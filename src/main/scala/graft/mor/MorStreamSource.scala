package graft.mor

import org.apache.spark.sql.{DataFrame, GraftStreamingShim, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.lake.MorTable

/** STREAMING READ of a MOR lake table (the Hudi streaming-incremental /
  * Delta streaming-source analog — the missing half of the CDC loop:
  * graft already streams INTO the lake; this streams OUT of it):
  *
  * {{{
  *   spark.readStream.format("graft.mor")
  *     .option("keys", "user_id").load(path)
  * }}}
  *
  * Offsets are commit seqs (the timeline IS the log): each micro-batch is
  * `readIncremental(start, end]` — the net image per key across the new
  * delta commits, tombstones included as `_deleted = true` rows, with
  * `_commit_seqno` for downstream LWW. Consumers get exactly the
  * incremental-pull contract (`s14`), continuously.
  *
  * Scale/ops notes:
  *  - a micro-batch reads ONLY the new delta dirs — O(changes), never a
  *    table scan; the per-batch window (net per key) spans just those
  *    commits.
  *  - `clean()` retention must cover consumer lag, exactly as Hudi
  *    documents for incremental consumers: deltas archived below the last
  *    compaction are gone, and a stream resuming past them fails loudly
  *    on the missing dirs rather than silently skipping changes.
  *  - compaction commits don't emit (they fold already-delivered deltas);
  *    the stream is driven by delta seqs alone.
  */
final class MorStreamSource(
    spark: SparkSession,
    path: String,
    keys: Seq[String]) extends Source {

  // ONE handle for the stream's lifetime: MorTable re-lists the timeline
  // on every call (new commits always visible) while its instant parse
  // cache stays warm — a per-call handle would cold-parse every instant
  // file again on each micro-batch
  private val table = MorTable(spark, path, keys)

  /** Data columns + the changelog surface (`_deleted`, `_commit_seqno`). */
  override val schema: StructType = {
    val snap = table.snapshot()
    StructType(snap.schema.filterNot(f =>
      f.name == "_record_key" || f.name == "_commit_time"))
  }

  private def outCols(df: DataFrame): DataFrame =
    df.select(schema.fieldNames.map(col).toSeq: _*)

  override def getOffset: Option[Offset] =
    table.timeline().filter(_.kind == "delta").lastOption.map(i => LongOffset(i.seq))

  private def seqOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json().trim.toLong // SerializedOffset on restart
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val since = start.map(seqOf).getOrElse(0L)
    GraftStreamingShim.asStreamingBatch(
      outCols(table.readIncremental(since, seqOf(end))))
  }

  override def stop(): Unit = ()
}

object MorStreamSource {
  /** The stream source for the table form `partitionCol` names: the two
    * forms stream different contracts (net incremental images vs. the
    * partitioned CDC changelog). */
  def apply(spark: SparkSession, path: String, keys: Seq[String],
            partitionCol: Option[String]): Source =
    partitionCol.fold[Source](new MorStreamSource(spark, path, keys))(
      new PartitionedMorStreamSource(spark, path, keys, _))
}

/** Streaming CDC READ of the PARTITIONED lake form (the 100 TB layout):
  * offsets are parent commit tokens, each micro-batch is
  * `readChangelog(start, end]` — net row-level I/U/D ops WITH
  * before-images across every partition, partition-pruned reads inside.
  * Downstream consumers get the richer CDC surface (the `s25` contract)
  * continuously:
  *
  * {{{
  *   spark.readStream.format("graft.mor")
  *     .option("keys", "user_id").option("partition", "event_type")
  *     .load(path)
  * }}}
  */
final class PartitionedMorStreamSource(
    spark: SparkSession,
    path: String,
    keys: Seq[String],
    partitionCol: String) extends Source {

  import org.apache.spark.sql.types.{StringType, StructField}

  private val table = new graft.lake.PartitionedMorTable(
    spark, path, keys, partitionCol)

  /** op + data columns + nullable before-images — the readChangelog
    * surface, constructed without requiring live delta commits. */
  override val schema: StructType = {
    val dataCols = table.read().schema.fields
    StructType(StructField("op", StringType, nullable = false) +:
      (dataCols ++ dataCols.map(f =>
        StructField(s"before_${f.name}", f.dataType, nullable = true))))
  }

  override def getOffset: Option[Offset] =
    table.parentTimeline().lastOption.map(i => LongOffset(i.seq))

  private def seqOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json().trim.toLong
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val since = start.map(seqOf).getOrElse(0L)
    // a fully-compacted-and-cleaned table has no delta dirs at all —
    // that's an empty changelog, not an error, for a stream. Detect that
    // case EXPLICITLY rather than catching readChangelog's requires: a
    // lagging consumer resuming past clean()ed deltas must fail loudly
    // (the retention contract), never read as "no changes".
    val batch =
      if (!table.hasDeltaCommits)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else table.readChangelog(since, seqOf(end))
    GraftStreamingShim.asStreamingBatch(
      batch.select(schema.fieldNames.map(col).toSeq: _*))
  }

  override def stop(): Unit = ()
}
