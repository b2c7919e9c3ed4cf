package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** What a commit row is, for both lake table forms and every path that
  * writes or reads their rows (the Hudi key generator, precombine rule and
  * commit metadata): the record key, the stamp, the surviving version of a
  * key. [[Expectations]] guard what a commit may hold. A new write verb
  * goes through these, never its own copy. */
object CommitRows {
  /** The lake columns every stored row carries. */
  val metaCols: Seq[String] = Seq("_record_key", "_deleted", "_commit_seqno", "_commit_time")

  /** The record key: the key columns cast to string, joined by `|`. */
  def recordKey(cols: Seq[Column]): Column = concat_ws("|", cols.map(_.cast("string")): _*)

  /** `df` with its record key over `keyCols` and its tombstone flag. */
  def withMeta(df: DataFrame, keyCols: Seq[String], deleted: Boolean): DataFrame =
    df.withColumn("_record_key", recordKey(keyCols.map(col)))
      .withColumn("_deleted", lit(deleted))

  /** The one last-write-wins window: per `by` group, the row that sorts
    * first by `order` (pass descending orders for "latest"). */
  def latestPerKey(df: DataFrame, by: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(by: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** `df` stamped as commit `seqno`, written at `commitMs`. */
  def stamp(df: DataFrame, seqno: Long, commitMs: Long): DataFrame =
    df.withColumn("_commit_seqno", lit(seqno))
      .withColumn("_commit_time", lit(commitTimeString(commitMs)))

  /** An external source adopted as commit rows (bootstrap) carries every
    * key column and no lake column. */
  def requireSource(fieldNames: Seq[String], keyCols: Seq[String], source: String): Unit = {
    val missing = keyCols.filterNot(fieldNames.contains)
    require(missing.isEmpty,
      s"bootstrap source $source lacks key column(s): ${missing.mkString(", ")}")
    val clash = fieldNames.filter(metaCols.contains)
    require(clash.isEmpty,
      s"bootstrap source $source carries reserved lake column(s): ${clash.mkString(", ")}")
  }

  /** `_commit_time`'s format: UTC `yyyyMMddHHmmssSSS`. */
  def commitTimeString(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
}

/** WRITE EXPECTATIONS (the Hudi pre-commit-validator / Delta CHECK
  * constraint analog): named predicates every NON-tombstone row of a
  * commit must satisfy, per table handle (not persisted). A predicate
  * evaluating to NULL passes (SQL CHECK semantics). Modes:
  *  - `fail` (default): [[guard]] counts violations on the commit write
  *    itself (an Observation, no extra job); the commit is refused before
  *    its instant publishes.
  *  - `drop`: [[dropViolating]] filters violating rows out of the raw
  *    batch, before per-key dedup, so a violating latest version never
  *    shadows an older passing one.
  *  - `quarantine` (DLT `expect_or_quarantine`): as `drop`, and the
  *    violating rows land in `<path>/quarantine/`
  *    ([[Expectations.readQuarantine]]) — the one added job. */
final class Expectations(exps: Seq[(String, Column)], mode: String) {
  require(Expectations.modes(mode),
    s"expectation mode must be one of ${Expectations.modes.mkString(", ")}, got '$mode'")

  private def filtering = exps.nonEmpty && mode != "fail"
  private def names = exps.map(_._1).mkString(", ")

  /** The batch's passing rows (identity in FAIL mode). QUARANTINE mode
    * first appends the violators to `<tablePath>/quarantine`, tagged
    * `_rule` (failed rule names), `_qtime` and `_batch`. */
  def dropViolating(batch: DataFrame, batchId: Long, tablePath: String): DataFrame =
    if (!filtering) batch
    else {
      if (mode == "quarantine") {
        val failed = concat_ws(",", exps.map { case (n, p) =>
          when(!coalesce(p, lit(true)), lit(n)) }: _*)
        batch.filter(exps.map { case (_, p) => !coalesce(p, lit(true)) }.reduce(_ || _))
          .withColumn("_rule", failed)
          .withColumn("_qtime", lit(CommitRows.commitTimeString(System.currentTimeMillis())))
          .withColumn("_batch", lit(batchId))
          .write.mode("append").parquet(s"$tablePath/quarantine")
      }
      batch.filter(exps.map { case (_, p) => coalesce(p, lit(true)) }.reduce(_ && _))
    }

  /** FAIL mode: `rows` (carrying `_deleted`) observed for violations, and
    * the guard to check once the commit write has run them. */
  def guard(rows: DataFrame): (DataFrame, Expectations.Guard) =
    if (exps.isEmpty || mode != "fail") (rows, Expectations.Guard.none)
    else {
      val viol = exps.map { case (_, p) =>
        !col("_deleted") && !coalesce(p, lit(true)) }.reduce(_ || _)
      val obs = new Observation(s"graft_expect_${java.util.UUID.randomUUID()}")
      (rows.observe(obs, sum(when(viol, 1L).otherwise(0L)).as("bad")),
        new Expectations.Guard(Some(obs), names))
    }
}

object Expectations {
  /** Legal modes. */
  val modes: Set[String] = Set("fail", "drop", "quarantine")

  /** No expectations. */
  val none = new Expectations(Nil, "fail")

  /** The FAIL-mode check on one commit write. */
  final class Guard private[Expectations] (obs: Option[Observation], names: String) {
    /** After the observed write ran: when a row violated, refuse `commit`
      * (throw inside [[Timeline.commit]], which releases the claim and
      * removes what the commit staged). */
    def refuseIfViolated(commit: String): Unit = obs.foreach { o =>
      val bad = o.get.get("bad") match {
        case Some(l: java.lang.Long) => l.longValue()
        case _ => 0L
      }
      if (bad > 0L) {
        throw new IllegalArgumentException(
          s"write expectations ($names) violated by $bad row(s) — $commit refused")
      }
    }
  }
  object Guard { private[lake] val none = new Guard(None, "") }

  /** The quarantine side relation of the table at `tablePath`.
    * AT-LEAST-ONCE: the quarantine write lands before the commit claims
    * its seq. A committed batch never re-appends (replays no-op first),
    * but a commit that fails mid-publish appends its violators again on
    * retry — dedup by `_batch` when exactly-once matters. Pin a
    * nondeterministic batch (localCheckpoint) first: it is evaluated
    * twice. Loud when nothing was ever quarantined. */
  def readQuarantine(spark: SparkSession, tablePath: String): DataFrame = {
    val q = new Path(s"$tablePath/quarantine")
    if (!q.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(q))
      throw new IllegalStateException(s"lake table at $tablePath has no quarantined rows")
    // mergeSchema: older quarantine files lack `_batch`
    spark.read.option("mergeSchema", "true").parquet(MorTable.globSafe(q.toString))
  }
}
