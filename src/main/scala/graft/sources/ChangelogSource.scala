package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.lake.CommitRows

/** CDC changelog ingestion — the Spark-native analog of the reference's
  * Flink Postgres-CDC sources (reference `CDC-Hudi-Notebook.zpln:1060`
  * snapshot→binlog, `:1372`/`:1995`/`:2078` binlog-only with
  * `'debezium.snapshot.mode'='never'`).
  *
  * Envelope (Debezium/pgoutput shape, FIXTURES.md §1; REPLICA IDENTITY FULL
  * gives full before-images, reference `scripts/cdclambda/index.js:6`):
  * {{{
  *   op      STRING      'I' | 'U' | 'D'
  *   key     STRING      record key (concat of key cols)
  *   before  STRUCT      pre-image  (null for I)
  *   after   STRUCT      post-image (null for D)
  *   seq     LONG        commit order within the log
  * }}}
  *
  * Two read modes, as in the reference:
  *  - `snapshotThenStream`: consistent snapshot first (op=I for every row,
  *    seq=0), then the log (zpln:4 "read database snapshot first and then
  *    continues to read binlogs with exactly-once processing").
  *  - `streamOnly`: log only, from the current offset (snapshot.mode=never).
  *
  * The log itself is storage-agnostic: any DataFrame with envelope columns
  * (files, Kafka, a JDBC WAL puller). Tests script it; `toMicroBatches`
  * slices it on seq boundaries the way checkpoint barriers do (zpln:131).
  */
object ChangelogSource {

  val OpInsert = "I"; val OpUpdate = "U"; val OpDelete = "D"

  /** Wrap a consistent snapshot as op=I changelog records (seq 0). */
  def snapshotAsChangelog(snap: DataFrame, keyCols: Seq[String]): DataFrame = {
    val dataCols = snap.columns.toSeq
    snap.select(
      lit(OpInsert).as("op"),
      CommitRows.recordKey(keyCols.map(col)).as("key"),
      lit(null).cast(structTypeOf(snap)).as("before"),
      struct(dataCols.map(col): _*).as("after"),
      lit(0L).as("seq"))
  }

  /** Build a scripted changelog from (op, row, seq) triples — the test-side
    * stand-in for a WAL tail. `rows` must carry an `op` column plus the data
    * columns; before-images are derived per key (REPLICA IDENTITY FULL). */
  def fromOps(rows: DataFrame, keyCols: Seq[String], opCol: String = "op",
              seqCol: String = "seq"): DataFrame = {
    val dataCols = rows.columns.toSeq.filterNot(c => c == opCol || c == seqCol)
    val rowStruct = struct(dataCols.map(col): _*)
    // before-image = previous after-image for the same key, in seq order.
    // A delete with no prior row in THIS log still carries its image in the
    // data columns (REPLICA IDENTITY FULL: the WAL ships the full old row),
    // so D falls back to the row's own columns — `before` is never null on D.
    val w = Window.partitionBy(CommitRows.recordKey(keyCols.map(col))).orderBy(col(seqCol))
    val lagged = lag(rowStruct, 1).over(w)
    rows.select(
      col(opCol).as("op"),
      CommitRows.recordKey(keyCols.map(col)).as("key"),
      when(col(opCol) === OpInsert, lit(null))
        .when(col(opCol) === OpDelete, coalesce(lagged, rowStruct))
        .otherwise(lagged).as("before"),
      when(col(opCol) === OpDelete, lit(null)).otherwise(rowStruct).as("after"),
      col(seqCol).cast("long").as("seq"))
  }

  /** Append-only envelope: every row op=I, before=null — no lag window
    * needed (the general fromOps pays a full shuffle on the key to derive
    * before-images; pure inserts never have one). */
  def insertsOnly(rows: DataFrame, keyCols: Seq[String], seqCol: String = "seq"): DataFrame = {
    val dataCols = rows.columns.toSeq.filterNot(_ == seqCol)
    val rowStruct = struct(dataCols.map(col): _*)
    rows.select(
      lit(OpInsert).as("op"),
      CommitRows.recordKey(keyCols.map(col)).as("key"),
      lit(null).cast(structTypeOf(rows.select(dataCols.map(col): _*))).as("before"),
      rowStruct.as("after"),
      col(seqCol).cast("long").as("seq"))
  }

  /** Empty changelog with the envelope schema for `table`'s row type —
    * the "no changes this micro-batch" input. */
  def emptyEnvelope(table: DataFrame, keyCols: Seq[String]): DataFrame =
    fromOps(table.limit(0).withColumn("op", lit("I")).withColumn("seq", lit(0L)),
      keyCols)

  /** snapshot → binlog: the reference's default source mode (S3). */
  def snapshotThenStream(snapshot: DataFrame, log: DataFrame, keyCols: Seq[String]): DataFrame =
    snapshotAsChangelog(snapshot, keyCols).unionByName(log.filter(col("seq") > 0))

  /** binlog-only from an offset: `snapshot.mode=never` (S4). */
  def streamOnly(log: DataFrame, fromSeq: Long = 0L): DataFrame =
    log.filter(col("seq") > fromSeq)

  /** Apply a changelog batch to a keyed state (the retract-and-replace
    * semantics of zpln:1870): I/U rows replace by key, D rows remove.
    * Pure DataFrame transform — last op per key in the batch wins, then
    * merges over the prior state. */
  def applyToState(state: DataFrame, batch: DataFrame, keyCols: Seq[String],
                   tiebreak: Seq[Column] = Nil): DataFrame = {
    val lastPerKey = CommitRows.latestPerKey(batch, Seq(col("key")), col("seq").desc +: tiebreak)
    val upserts = lastPerKey.filter(col("op") =!= OpDelete).select(col("after.*"))
    val touchedKeys = lastPerKey.select(col("key").as("__touched_key"))
    // micro-batches are small next to the state — broadcast the touched keys
    state
      .join(broadcast(touchedKeys),
        CommitRows.recordKey(keyCols.map(col)) === col("__touched_key"), "left_anti")
      .unionByName(upserts)
  }

  /** Materialized continuous scan (R2/R3): fold the whole log over an
    * optional snapshot — what `SELECT * FROM person` shows after the stream
    * settles (zpln:1147/:1527).
    *
    * `tiebreak` extends the per-key ordering past `seq` — required whenever
    * seq alone isn't a total order per key (e.g. seq = event timestamp with
    * duplicate (key, ts) pairs), so the materialized winner is deterministic
    * on both sides of an oracle comparison. */
  def materialize(changelog: DataFrame, keyCols: Seq[String],
                  tiebreak: Seq[Column] = Nil): DataFrame = {
    CommitRows.latestPerKey(changelog, Seq(col("key")), col("seq").desc +: tiebreak)
      .filter(col("op") =!= OpDelete)
      .select(col("after.*"))
  }

  /** Slice a changelog into n seq-ordered micro-batches (checkpoint barriers,
    * zpln:131). Returns the batch boundary predicate per index, so callers
    * stream batches without collecting. */
  def microBatchBounds(changelog: DataFrame, n: Int): Seq[(Long, Long)] = {
    val mm = changelog.agg(min("seq"), max("seq")).head()
    if (mm.isNullAt(0)) return Seq.empty
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = hi - lo + 1
    (0 until n).map { i =>
      val s = lo + i * span / n
      val e = lo + (i + 1) * span / n - 1
      (s, e)
    }.filter { case (s, e) => e >= s }
  }

  private def structTypeOf(df: DataFrame): StructType = StructType(df.schema.fields)
}
