package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.lake.LakeTable

/** Catalog surface (S5 and the Glue-catalog analog of §1.1): MOR lake
  * tables registered under catalog names so the whole SQL surface —
  * `SELECT * FROM t1`, `DROP TABLE IF EXISTS t1` (zpln:292/:2952) — runs
  * through `spark.sql`.
  *
  * Freshness contract (the Athena-reads-Glue behavior,
  * `lib/rds-cdc-flink-hudi-stack.ts:458-519`): when the session was built
  * with `spark.sql.extensions=graft.GraftExtensions`, a registered name is
  * resolved by [[MorRelationResolution]] to a FRESH snapshot plan at every
  * query — readers see each commit the moment it lands, with no
  * re-registration. (The timeline list behind that re-resolution is one
  * `listStatus` + cached instant parses — see MorTable.timeline.)
  * Without the extension (a session we didn't build), `register` falls
  * back to a temp view that snapshots the CURRENT file set and must be
  * re-registered per commit.
  */
object GraftCatalog {

  /** (session, lower(name)) → fresh-scan builder. Session-scoped like
    * temp views; the thunk re-resolves the table's CURRENT timeline on
    * every call, which is what keeps catalog readers commit-fresh. */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, () => DataFrame]()

  /** name → live table handle, for the operational surface (CALL
    * procedures — [[graft.lake.GraftProcedureCatalog]]). */
  private val handles =
    new java.util.concurrent.ConcurrentHashMap[String, LakeTable]()

  private def key(spark: SparkSession, name: String): String =
    System.identityHashCode(spark) + "/" + name.toLowerCase(java.util.Locale.ROOT)

  /** Live lookup used by the analyzer rule (None = not a graft table). */
  private[graft] def lookup(spark: SparkSession, name: String): Option[() => DataFrame] =
    Option(registry.get(key(spark, name)))

  /** Live handle lookup used by the CALL-procedure surface. */
  private[graft] def handleOf(spark: SparkSession, name: String): Option[LakeTable] =
    Option(handles.get(key(spark, name)))

  private def ruleInstalled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.sql.extensions").exists(_.contains("graft.GraftExtensions"))

  /** Register (or refresh) a lake table, either form, under a catalog
    * name (see the freshness contract above). */
  def register(spark: SparkSession, name: String, table: LakeTable): Unit = {
    handles.put(key(spark, name), table)
    if (ruleInstalled(spark)) { registry.put(key(spark, name), () => table.read()); () }
    else table.read().createOrReplaceTempView(name)
  }

  /** S5 — `DROP TABLE IF EXISTS`: removes catalog metadata; storage stays
    * unless `purge`. Idempotent, like the reference's cleanup cell. */
  def dropTable(spark: SparkSession, name: String, table: Option[LakeTable] = None,
                purge: Boolean = false): Unit = {
    registry.remove(key(spark, name))
    handles.remove(key(spark, name))
    spark.catalog.dropTempView(name)
    if (purge) table.foreach(_.drop())
  }

  def exists(spark: SparkSession, name: String): Boolean =
    lookup(spark, name).isDefined || spark.catalog.tableExists(name)
}
