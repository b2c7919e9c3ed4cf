package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructField

/** One handle over both lake table forms — [[MorTable]] and its
  * `PARTITIONED BY` form [[PartitionedMorTable]] — the way the reference
  * writes through one Hudi table API (`HoodieTable`) whether its
  * MERGE_ON_READ sink is partitioned or not.
  *
  * Every router (SQL relation and sink, CALL procedures, maintenance DDL,
  * DML, materialized views, table services, the catalog) takes only this
  * trait; a verb a router needs belongs here, and behaviour that really
  * differs by form lives in the implementing class (compaction modes and
  * their acks, planner key NDV, key-range pruning).
  *
  * Partition scope: verbs taking `values` restrict to those partition
  * values, empty meaning every partition. The unpartitioned form has no
  * partitions and rejects a non-empty `values`. */
trait LakeTable {
  def path: String
  def keyCols: Seq[String]
  /** The partition column; None on the unpartitioned form. */
  def partitionCol: Option[String]

  /** The table's commit timeline: the parent timeline (the table-global
    * token space) on the partitioned form. */
  def commits(): Seq[MorTable.Instant]
  /** Partition values present on disk, sorted; none on the unpartitioned
    * form. */
  def partitions(): Seq[String]
  /** (partition value, child table) per partition; the single pair
    * `"" -> this` on the unpartitioned form. */
  def children(): Seq[(String, MorTable)]
  /** `f` over [[children]], results in the same order (the partitioned
    * form runs the children concurrently). */
  def mapChildren[A](f: MorTable => A): Seq[(String, A)] =
    children().map { case (v, c) => v -> f(c) }
  /** The table holds something: a commit (the partitioned form: a
    * partition). */
  def exists(): Boolean

  // ------------------------------------------------------------ reads

  def read(values: Seq[String] = Nil): DataFrame
  def readAt(seq: Long, values: Seq[String] = Nil): DataFrame
  /** No default for `values`: the unpartitioned form overloads the second
    * argument with an upper seq bound. */
  def readIncremental(sinceSeq: Long, values: Seq[String]): DataFrame
  def readChangelog(fromSeq: Long, toSeq: Long = Long.MaxValue,
                    values: Seq[String] = Nil): DataFrame
  def readOptimized(values: Seq[String] = Nil): DataFrame
  def readForKeysIndexed(recordKeys: Seq[String], values: Seq[String] = Nil): DataFrame
  /** Rows whose record key lies in [lo, hi). */
  def readForKeyRange(lo: String, hi: String, values: Seq[String] = Nil): DataFrame
  private[graft] def readForKeyBatch(batchKeys: DataFrame,
                                     values: Seq[String] = Nil): DataFrame

  // ----------------------------------------------------------- writes

  def upsert(batch: DataFrame, orderWithinBatch: Seq[Column],
             batchId: Long = -1L): LakeTable
  def applyChangelog(envelope: DataFrame, batchId: Long = -1L): LakeTable
  def deleteWhere(cond: Column, batchId: Long = -1L,
                  values: Seq[String] = Nil): LakeTable
  def deleteWhereKeys(recordKeys: Seq[String], cond: Column, batchId: Long = -1L,
                      values: Seq[String] = Nil): LakeTable
  def updateWhere(cond: Column, set: Map[String, Column], batchId: Long = -1L,
                  values: Seq[String] = Nil): LakeTable
  def updateWhereKeys(recordKeys: Seq[String], cond: Column,
                      set: Map[String, Column], batchId: Long = -1L,
                      values: Seq[String] = Nil): LakeTable
  def addColumns(newCols: Seq[StructField]): LakeTable
  def withExpectations(exps: Seq[(String, Column)], mode: String): LakeTable
  /** Drop the named partitions' storage and metadata; returns the values
    * dropped. */
  def dropPartitions(values: Seq[String]): Seq[String]
  def drop(): Unit

  // ------------------------------------------------------ maintenance

  /** The `run_compaction` verb: mode full|minor|zorder|due over the table
    * or the `values` partitions; returns the (action, detail) ack. */
  def runCompaction(mode: String, zorderCols: Seq[String] = Nil,
                    values: Seq[String] = Nil): (String, String)
  /** Compact whatever the num_or_time trigger finds due, z-order clustered
    * on `zorderCols` when given; true iff something compacted. */
  def compactIfDue(zorderCols: Seq[String] = Nil): Boolean
  def buildRecordIndex(values: Seq[String] = Nil): Unit
  def indexColumns(cols: Seq[String]): LakeTable
  def clean(): Int
  def savepoint(name: String): Long
  def savepoints(): Map[String, Long]
  def restore(name: String): Int
  def releaseSavepointsOlderThan(ttlMs: Long,
                                 nowMs: Long = System.currentTimeMillis(),
                                 includeClonePins: Boolean = false): Seq[String]
  def cloneTo(dstPath: String): LakeTable
  def bootstrap(sourceDir: String, batchId: Long = -1L): LakeTable

  // ------------------------------------------------------------ stats

  def liveBytes(): Long
  def liveRowCount(): Option[Long]
  def exactLiveRowCount(values: Seq[String] = Nil): Option[Long]
  def colNdv(): Map[String, Long]
  /** [[colNdv]] plus what the planner may add for the key: the exact NDV
    * of a single key column (one live row per key, so `liveRows`) on the
    * unpartitioned form; nothing on the partitioned form, whose primary
    * key is (partition, key). */
  def plannerNdv(liveRows: => Option[Long]): Map[String, Long]
  def colBounds(): Map[String, (Double, Double)]
}

object LakeTable {
  /** Open `path` in the form `partitionCol` names, honoring its persisted
    * (or newly `declared`) policy — [[MorTable.resolve]] /
    * [[PartitionedMorTable.resolve]]. */
  def resolve(spark: SparkSession, path: String, keyCols: Seq[String],
              partitionCol: Option[String],
              declared: Option[MorTable.Policy] = None): LakeTable =
    partitionCol.fold[LakeTable](MorTable.resolve(spark, path, keyCols, declared))(
      PartitionedMorTable.resolve(spark, path, keyCols, _, declared))

  /** (path, keys, partition column) of a `graft.mor` catalog table's
    * OPTIONS; `table` names it in the error. */
  def options(opts: Map[String, String],
              table: String): (String, Seq[String], Option[String]) = {
    val path = opts.getOrElse("path", throw new IllegalArgumentException(
      s"graft.mor table $table has no path option"))
    val keys = opts.getOrElse("keys", "").split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    (path, keys, opts.get("partition"))
  }

  /** The table a `graft.mor` catalog table's OPTIONS describe. */
  def fromOptions(spark: SparkSession, opts: Map[String, String],
                  table: String): LakeTable = {
    val (path, keys, partitionCol) = options(opts, table)
    resolve(spark, path, keys, partitionCol)
  }
}
