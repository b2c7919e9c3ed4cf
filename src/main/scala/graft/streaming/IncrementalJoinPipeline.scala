package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.MorTable

/** The continuous CDC pipeline — Entry point B of the reference
  * (`CDC-Hudi-Notebook.zpln:2317`):
  *
  * {{{
  *   INSERT INTO ticket_view
  *   SELECT full_name, cast(ticket.id as string), ticket_price,
  *          cast(transaction_date_time as string)
  *   FROM person JOIN sporting_event_ticket ON person.id = ticketholder_id
  *               JOIN ticket_purchase_hist ON sporting_event_ticket_id = ticket.id
  * }}}
  *
  * continuously maintained over three changelog inputs, upserting into a
  * keyed MOR sink (PK = full_name ⇒ "last transaction per person",
  * zpln:2119). Structured Streaming cannot chain two stream-stream joins
  * over update streams (SURVEY §4), so this is incremental view maintenance
  * in micro-batches: per batch, apply deltas to keyed state tables, find the
  * affected root-dimension keys, recompute the join for exactly those keys
  * against old and new state, and emit upserts + retraction deletes to the
  * sink. One micro-batch = one lake commit (zpln:89 commit-per-checkpoint).
  *
  * Scale notes (100 TB bar):
  *  - per-batch work is proportional to the CHANGED keys, not state size:
  *    affected-key sets are broadcast; state tables are only touched through
  *    key-equi-joins that Catalyst plans as broadcast-hash against the small
  *    delta side.
  *  - the one full-state shuffle per batch is each MorTable's snapshot merge;
  *    compaction keeps that bounded (base-only read after compact).
  *  - the sink write shuffles by sink key (hash), never coalesces.
  *
  * Column-name hygiene: P/T/H must have disjoint column names (true of the
  * reference schema and the TPC-H stand-ins).
  *
  * @param personKey   P's primary key column
  * @param ticketKey   T's primary key column
  * @param ticketPersonFk  T column referencing P's key
  * @param histTicketFk    H column referencing T's key
  * @param histKeyCols     H's primary key columns
  * @param histOrder   H columns ranking "the last transaction" (ascending)
  * @param project     joined(P⋈T⋈H) → sink rows; must emit `sinkKey`
  * @param sinkKey     sink primary key column (reference: full_name)
  */
final class IncrementalJoinPipeline(
    spark: SparkSession,
    stateDir: String,
    personKey: String,
    ticketKey: String,
    ticketPersonFk: String,
    histTicketFk: String,
    histKeyCols: Seq[String],
    histOrder: Seq[String],
    project: DataFrame => DataFrame,
    sinkKey: String,
    sinkCompactionDeltaCommits: Int = 5,
    /** T5 — the reference's `write.tasks` (zpln:2234: write.tasks=3): >0
      * hashes every state/sink commit into this many files. Micro-batch
      * deltas otherwise inherit `spark.sql.shuffle.partitions` and write
      * that many KB-sized files PER COMMIT; a few commits in, every
      * snapshot read's file listing crosses Spark's parallel-discovery
      * threshold and each read pays a listing job before any data moves.
      * Bounding files-per-commit is how Hudi sizes file groups too. */
    writeTasks: Int = 0) {

  // autoCompact=false: states may only compact AFTER the sink commit is
  // durable, or a replayed batch could not reconstruct pre-batch state.
  // bloomBits=0: state tables never serve point reads or external engines,
  // so each compaction skips the stats pass + manifest publication (pure
  // per-commit driver/job overhead here; the SINK keeps its manifest — its
  // conditional-upsert fallback point-reads by key).
  val pState = new MorTable(spark, s"$stateDir/person", Seq(personKey),
    compactionDeltaCommits = 4, autoCompact = false, writePartitions = writeTasks,
    bloomBits = 0)
  val tState = new MorTable(spark, s"$stateDir/ticket", Seq(ticketKey),
    compactionDeltaCommits = 4, autoCompact = false, writePartitions = writeTasks,
    bloomBits = 0)
  val hState = new MorTable(spark, s"$stateDir/hist", histKeyCols,
    compactionDeltaCommits = 4, autoCompact = false, writePartitions = writeTasks,
    bloomBits = 0)
  val sink = new MorTable(spark, s"$stateDir/sink", Seq(sinkKey),
    compactionDeltaCommits = sinkCompactionDeltaCommits,
    writePartitions = writeTasks)

  /** Materialized P⋈T dim-side join, reused across consecutive fact-only
    * micro-batches (the common CDC cadence: dims change rarely, the fact
    * streams). Rebuilt lazily after any batch that touches P or T state.
    * This is incremental view maintenance's classic intermediate view —
    * the denormalized ticket-with-holder relation — pinned with an eager
    * localCheckpoint so each append-only batch probes pinned blocks
    * instead of re-running the dim join (2 scans + a join per batch
    * otherwise). Size is O(|T|) — the same order as tState itself. */
  @volatile private var dimJoinCache: Option[DataFrame] = None

  private def dimJoin(): DataFrame = dimJoinCache.getOrElse {
    val dj = pState.read()
      .join(tState.read(), col(personKey) === col(ticketPersonFk))
      .localCheckpoint(true)
    dimJoinCache = Some(dj)
    dj
  }

  private def invalidateDimJoin(): Unit = dimJoinCache = None

  /** Pinned image of the sink's current data rows, maintained
    * INCREMENTALLY across append-only batches (anti-join out the upserted
    * keys, union the new rows, re-pin) — the micro-batch analog of the
    * state a `flatMapGroupsWithState` view would hold. Kills the per-batch
    * sink snapshot merge (scan + LWW window + broadcast) that the
    * conditional upsert otherwise re-runs against a one-commit-older sink
    * every batch. Guarded: above [[IncrementalJoinPipeline.MaxPinnedSinkRows]]
    * the image is NOT kept (pinning the whole materialized view on
    * executors stops being the right trade, and localCheckpoint blocks are
    * not executor-loss tolerant) and callers fall back to lake reads with
    * point-read pruning. Invalidated by any full (retraction) batch. */
  @volatile private var sinkImageCache: Option[(DataFrame, Long)] = None
  @volatile private var sinkImageTooBig = false

  private def sinkImage(): Option[(DataFrame, Long)] =
    sinkImageCache.orElse {
      if (sinkImageTooBig) None
      else {
        val img = sink.read().localCheckpoint(true)
        val n = img.count()
        if (n <= IncrementalJoinPipeline.MaxPinnedSinkRows) {
          sinkImageCache = Some((img, n)); sinkImageCache
        } else { sinkImageTooBig = true; None }
      }
    }

  private def advanceSinkImage(out: DataFrame, outRows: Long): Unit =
    sinkImageCache = sinkImageCache.map { case (old, n) =>
      val img = old.join(broadcast(out.select(col(sinkKey).as("__k"))),
          col(sinkKey) === col("__k"), "left_anti")
        .unionByName(out)
        .localCheckpoint(true)
      // upper bound is enough for the broadcast decision; the exact count
      // would cost a job
      (img, n + outRows)
    }

  private def invalidateSinkImage(): Unit = { sinkImageCache = None; sinkImageTooBig = false }

  /** Seed the states (the reference's snapshot phase, zpln:1101). Empty
    * DataFrames (with schema) are fine for binlog-only inputs. */
  def initialize(personSnap: DataFrame, ticketSnap: DataFrame, histSnap: DataFrame): Unit = {
    pState.upsert(personSnap, orderWithinBatch = Seq(col(personKey)), batchId = 0L)
    tState.upsert(ticketSnap, orderWithinBatch = Seq(col(ticketKey)), batchId = 0L)
    hState.upsert(histSnap, orderWithinBatch = histKeyCols.map(col), batchId = 0L)
    val joined = joinAll(pState.read(), tState.read(), hState.read(), None)
    sink.upsert(project(joined), orderWithinBatch = histOrder.map(col), batchId = 0L)
  }

  /** One micro-batch = one commit on every state table + the sink (T1).
    * Any of the three changelogs may be empty. Replaying a committed
    * batchId is a no-op end-to-end.
    *
    * `hStats` = (row count, non-insert count) of `dH` when the CALLER
    * already knows them — a WAL source's offset arithmetic, or one
    * up-front bucketed count over the whole replay log — which skips the
    * per-batch probe job entirely (at a 1-minute cadence every per-batch
    * driver job is ~1.4k scheduler round-trips a day). */
  def processBatch(dP: DataFrame, dT: DataFrame, dH: DataFrame, batchId: Long,
                   hStats: Option[(Long, Long)] = None): Unit = {
    if (sink.isCommitted(batchId)) return // exactly-once replay guard

    // Fast path — the common CDC shape (zpln:2078: history is append-
    // mostly): no dim/ticket changes and only inserts on the fact. Appends
    // cannot retract anything, so the batch needs a delta-sized join plus a
    // conditional upsert, NOT a full recompute of affected persons.
    // ONE job (or zero, with caller-supplied stats) decides both "all
    // inserts?" and "small enough to point-read the sink?".
    if (knownEmpty(dP) && knownEmpty(dT)) {
      val (n, nonI) = hStats.getOrElse {
        val st = dH.agg(count(lit(1)), count(when(col("op") =!= "I", true))).head()
        (st.getLong(0), st.getLong(1))
      }
      if (nonI == 0L) {
        appendOnlyBatch(dH, n, batchId)
        return
      }
    }

    // read state AS OF before this batch: on a clean run that's read(),
    // on a partial replay (states committed, sink didn't) it excludes the
    // half-applied batch — both paths see identical pre-batch state
    val oldP = pState.readExcludingBatch(batchId).cache()
    val oldT = tState.readExcludingBatch(batchId).cache()

    // -- affected root keys (person ids), from all three deltas ------------
    val pidFromP = dP.select(coalesce(col(s"after.$personKey"), col(s"before.$personKey")).as("pid"))
    val pidFromT = dT.select(explode(array(
      col(s"after.$ticketPersonFk"), col(s"before.$ticketPersonFk"))).as("pid"))
    // H deltas name a ticket; resolve ticket → person through old ∪ new T
    val histTids = dH.select(coalesce(col(s"after.$histTicketFk"), col(s"before.$histTicketFk")).as("tid"))
      .distinct()
    val newTPre = graft.sources.ChangelogSource.applyToState(oldT, dT, Seq(ticketKey))
    val tUnion = oldT.select(col(ticketKey).as("tid2"), col(ticketPersonFk).as("pid"))
      .unionByName(newTPre.select(col(ticketKey).as("tid2"), col(ticketPersonFk).as("pid")))
    val pidFromH = histTids.join(tUnion, col("tid") === col("tid2")).select("pid")
    val affected = pidFromP.unionByName(pidFromT).unionByName(pidFromH)
      .filter(col("pid").isNotNull).distinct().cache()
    affected.count() // pin before states mutate

    // -- old sink keys for the affected persons (for retraction) -----------
    val oldH = hState.readExcludingBatch(batchId)
    val oldOutKeys = project(joinAll(oldP, oldT, oldH, Some(affected)))
      .select(col(sinkKey)).distinct().cache()
    oldOutKeys.count()

    // -- advance the states (one delta commit each) ------------------------
    pState.applyChangelog(dP, batchId)
    tState.applyChangelog(dT, batchId)
    hState.applyChangelog(dH, batchId)
    invalidateDimJoin() // P/T state moved: the materialized dim join is stale

    // -- recompute the view for affected persons over NEW state ------------
    val newOut = project(joinAll(pState.read(), tState.read(), hState.read(), Some(affected)))
      .cache()
    val newRows = lastPerSinkKey(newOut)

    // -- retract sink keys that vanished (person renamed / no hist left) ---
    // upserts + retractions go to the sink as ONE changelog commit, so a
    // crash can never land the upserts without the deletes (T1 atomicity)
    val newKeys = newRows.select(col(sinkKey))
    val gone = oldOutKeys.except(newKeys)
    val sinkStruct = struct(newRows.columns.map(col): _*)
    val ups = newRows.select(lit("U").as("op"), col(sinkKey).cast("string").as("key"),
      lit(null).cast(newRows.schema).as("before"), sinkStruct.as("after"), lit(0L).as("seq"))
    val delRows = newRows.columns.filterNot(_ == sinkKey)
      .foldLeft(gone) { (df, c) => df.withColumn(c, lit(null).cast(newRows.schema(c).dataType)) }
    val dels = delRows.select(lit("D").as("op"), col(sinkKey).cast("string").as("key"),
      struct(newRows.columns.map(col): _*).as("before"),
      lit(null).cast(newRows.schema).as("after"), lit(0L).as("seq"))
    sink.applyChangelog(ups.unionByName(dels), batchId = batchId)
    invalidateSinkImage() // retractions bypassed the incremental image

    // batch fully durable → states may compact now (T4)
    Seq(pState, tState, hState).foreach(_.maybeCompact())

    Seq(affected, oldOutKeys, newOut, oldP, oldT).foreach(_.unpersist())
  }

  /** Append-only micro-batch: join JUST the new fact rows against current
    * dim/ticket state, take the per-sink-key argmax, and upsert only keys
    * whose new "last transaction" is newer than what the sink already holds
    * (conditional on `histOrder` — an append can advance a person's last
    * transaction, never regress it). Work is O(|delta|)-dominated: the
    * sink-side compare reads ONLY the candidate keys' rows
    * ([[MorTable.snapshotForKeys]] pushes the key set into the parquet
    * scans, so row-group stats skip the untouched sink), never the whole
    * sink snapshot. */
  // (Measured dead end, kept as a note: disabling AQE for micro-batch
  // plans cuts ~16 driver jobs per replay but LOSES wall and task time —
  // AQE's partition coalescing turns the 32-way micro-stages into a few
  // fat tasks, which outweighs its per-exchange stage-job overhead.)
  private def appendOnlyBatch(dH: DataFrame, hRows: Long, batchId: Long): Unit = {
    appendOnlyCore(dH, hRows, batchId)
    Seq(pState, tState, hState, sink).foreach(_.maybeCompact())
  }

  private def appendOnlyCore(dH: DataFrame, hRows: Long, batchId: Long): Unit = {
    // the caller proved dH is insert-only; unique keys are the CDC insert
    // contract — skip the per-key LWW window's shuffle
    hState.applyChangelog(dH, batchId, insertOnly = true)
    val newH = dH.select(col("after.*"))
    // delta ⋈ state with the DELTA broadcast (the canonical CDC join shape:
    // per-batch work stays map-only over the state scans, no state shuffle)
    // — but only while the batch is actually broadcast-sized; a giant
    // backfill batch falls back to a shuffle join rather than OOMing the
    // driver with a multi-GB broadcast
    val newHSide =
      if (hRows <= IncrementalJoinPipeline.MaxBroadcastDeltaRows) broadcast(newH) else newH
    // dim side comes from the cross-batch materialized P⋈T view: an
    // append-only batch re-probes pinned blocks instead of re-joining the
    // two unchanged state tables every batch
    val joined = dimJoin().join(newHSide, col(histTicketFk) === col(ticketKey))
    val ordStruct = struct(histOrder.map(col): _*)
    def conditionalOut(candTop: DataFrame, curSnap: DataFrame): DataFrame = {
      val cur = curSnap.select(col(sinkKey).as("__cur_key"),
        struct(histOrder.map(col): _*).as("__cur_ord"))
      candTop
        .join(cur, col(sinkKey) === col("__cur_key"), "left")
        .filter(col("__cur_key").isNull || ordStruct > col("__cur_ord"))
        .drop("__cur_key", "__cur_ord")
    }
    // candTop is a per-sink-key argmax → provably key-distinct everywhere
    // below: sink writes skip the upsert's own dedup window (a full
    // shuffle per commit that would re-prove it)
    sinkImage() match {
      case Some((img0, n)) =>
        // compare against the pinned incremental image: no sink scan, no
        // per-batch snapshot merge. The pinned RDD carries no stats, so a
        // plain join would plan sort-merge (two shuffles + sorts) —
        // broadcast it while it is broadcast-sized. Pin `out` once — it
        // feeds the commit AND the image advance.
        val img =
          if (n <= IncrementalJoinPipeline.MaxBroadcastDeltaRows) broadcast(img0) else img0
        val out = conditionalOut(lastPerSinkKey(project(joined)), img)
          .localCheckpoint(true)
        sink.upsertDistinct(out, batchId = batchId)
        advanceSinkImage(out, outRows = hRows) // ≥ |out|: bound, not a count job
      case None =>
        // 100 TB fallback (sink too big to pin): candidate sink keys are
        // bounded by the batch's row count (the h→t→p join is N:1:1). A
        // NORMAL micro-batch is small: collect its keys so the compare is
        // a pruned point read (readForKeys pushes the set into the sink
        // scans — O(|delta|), not O(|sink|)). A dense batch (snapshot
        // replay / backfill) touches most keys anyway — one-plan full
        // compare, no cache/collect overhead.
        if (hRows <= IncrementalJoinPipeline.MaxPushedSinkKeys) {
          val candTop = lastPerSinkKey(project(joined)).cache()
          try {
            val candKeys = candTop.select(col(sinkKey).cast("string"))
              .distinct().collect().map(_.getString(0)).toSeq
            val cur =
              if (candKeys.size <= IncrementalJoinPipeline.MaxPushedSinkKeys)
                sink.readForKeys(candKeys)
              else sink.read()
            sink.upsertDistinct(conditionalOut(candTop, cur), batchId = batchId)
          } finally { candTop.unpersist(); () }
        } else sink.upsertDistinct(
          conditionalOut(lastPerSinkKey(project(joined)), sink.read()), batchId = batchId)
    }
  }

  /** The last transaction per sink key (the PK-upsert collapse, zpln:2119). */
  private def lastPerSinkKey(df: DataFrame): DataFrame =
    graft.lake.CommitRows.latestPerKey(df, Seq(col(sinkKey)), histOrder.map(col(_).desc))

  /** Emptiness without a cluster job when the optimizer can prove it (a
    * `limit(0)` envelope folds to an empty LocalRelation — the common
    * "this table had no changes this batch" shape); falls back to the
    * isEmpty action otherwise. Saves two jobs per append-only batch. */
  private def knownEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.isEmpty
      case _ => df.isEmpty
    }

  /** P ⋈ T ⋈ H, optionally restricted to an (already-small, broadcast)
    * set of person ids — the per-batch "recompute only what changed" path. */
  private def joinAll(p: DataFrame, t: DataFrame, h: DataFrame,
                      personIds: Option[DataFrame]): DataFrame = {
    val pSel = personIds match {
      case Some(ids) => p.join(broadcast(ids.withColumnRenamed("pid", "__pid")),
        col(personKey) === col("__pid")).drop("__pid")
      case None => p
    }
    pSel.join(t, col(personKey) === col(ticketPersonFk))
      .join(h, col(histTicketFk) === col(ticketKey))
  }

  /** The reference's data-quality invariant (zpln:2757 → empty, :2812). */
  def duplicateCheck(): DataFrame =
    graft.operators.RelationalOps.duplicateCheck(sink.read(), sinkKey)
}

object IncrementalJoinPipeline {
  /** Above this many candidate keys the pushed `In()` predicate costs more
    * than it saves (plan bloat); fall back to the full-snapshot compare. */
  private[streaming] val MaxPushedSinkKeys = 10000

  /** Up to this many rows the append-batch delta is broadcast into the
    * state join (a few-hundred-MB broadcast at most); beyond it — backfill
    * territory — the join falls back to shuffle. */
  private[streaming] val MaxBroadcastDeltaRows = 1000000

  /** Up to this many rows the sink's current image is pinned on executors
    * and maintained incrementally across append-only batches; beyond it
    * the conditional upsert falls back to lake reads (point-read pruned).
    * ~hundreds of MB of view rows at typical widths. */
  private[streaming] val MaxPinnedSinkRows = 5000000L
}
