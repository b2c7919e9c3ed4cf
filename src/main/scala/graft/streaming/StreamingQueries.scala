package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checkable STREAMING queries: the driver's gate runs these like
  * any batch entry, but the result is produced by a real Structured
  * Streaming job (file source → event-time windowed agg → memory sink,
  * drained with Trigger.AvailableNow) — proving the streaming scan
  * computes exactly the batch semantics (R2/R3: "the stream settles to
  * the table"), hash-checked against the same DuckDB SQL as the batch
  * tumbling aggregate. */
object StreamingQueries {

  private val counter = new java.util.concurrent.atomic.AtomicLong()

  /** Stream → PARTITIONED lake, oracle-checked end-to-end: events flow as
    * an insert changelog through a real Structured Streaming job into a
    * [[graft.lake.PartitionedMorTable]] (partition = event_type, key =
    * user_id within partition — per-partition-unique keys, the shape the
    * (partition, key) dedup contract exists for), then the lake snapshot
    * is read back. Must equal the batch LWW dedup per (event_type,
    * user_id). seq = ts_ns is not a total order per key, so the
    * `event_id` tiebreak mirrors the oracle's ORDER BY exactly. */
  def streamPartitioned(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema // raw vintage (tsToNs normalizes)
    val watchDir = graft.TempDirs.create("stream-part")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(watchDir, "events.parquet"),
      java.nio.file.Paths.get(path).toAbsolutePath)
    val rows = graft.Tables.tsToNs(spark.readStream.schema(schema).parquet(watchDir))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), expr("ts_ns div 1000000").as("ts_ms"),
        col("ts_ns").as("seq"))
    val env = graft.sources.ChangelogSource.insertsOnly(rows, Seq("user_id"))
    val tablePath = graft.TempDirs.create("stream-part-lake")
    val table = new graft.lake.PartitionedMorTable(spark, tablePath,
      keyCols = Seq("user_id"), partCol = "event_type",
      compactionDeltaCommits = 1000, autoCompact = false)
    val q = StreamingOps.streamChangelogToPartitionedMor(env, table,
      graft.TempDirs.create("stream-part-ckpt"), tiebreak = Seq("event_id"))
    q.awaitTermination()
    graft.TempDirs.materializeAndDelete(
      table.read().select("user_id", "event_id", "event_type", "value", "ts_ms"),
      tablePath)
  }

  /** STREAM-STATIC broadcast enrichment (the canonical streaming dimension
    * join): a live event stream joins the static `nation` dim — small by
    * nature, broadcast to every task — and the enriched rows land in the
    * sink with NO streaming state at all: the join is stateless, so at
    * 100 TB/day the cost is one broadcast hash probe per event, no
    * watermark, no state store, no shuffle. Drained with AvailableNow the
    * result is exactly the batch join — the oracle (`r39`). */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema // raw vintage (tsToNs normalizes)
    val name = s"graft_stream_static_${counter.incrementAndGet()}"
    val watchDir = graft.TempDirs.create("stream-static")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(watchDir, "events.parquet"),
      java.nio.file.Paths.get(path).toAbsolutePath)
    val dim = graft.Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    val enriched = graft.Tables.tsToNs(spark.readStream.schema(schema).parquet(watchDir))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), expr("ts_ns div 1000000").as("ts_ms"))
      .join(broadcast(dim), col("user_id") % 25 === col("n_nationkey"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts_ms"), col("n_name"))
    val q = enriched.writeStream
      .format("memory").queryName(name)
      .option("checkpointLocation", graft.TempDirs.create(s"$name-ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** 1-hour tumbling windowed aggregate over a parquet STREAM of events;
    * returns the drained result. Must hash-match r14's batch oracle. */
  def streamTumble(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema // raw vintage (tsToNs normalizes)
    val name = s"graft_stream_tumble_${counter.incrementAndGet()}"
    // the file streaming source wants a directory to watch — expose the
    // single events file through a scratch dir (symlink, no copy)
    val watchDir = graft.TempDirs.create("stream-events")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(watchDir, "events.parquet"),
      java.nio.file.Paths.get(path).toAbsolutePath)
    val agg = graft.Tables.tsToNs(spark.readStream.schema(schema).parquet(watchDir))
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 3).as("sum_value"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("cnt"), col("sum_value"))
    // windowed-agg state store commits scale with partition count, not
    // data, on a bounded drain — size to the state volume (the r30/d10
    // treatment)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = agg.writeStream
        .format("memory").queryName(name)
        .option("checkpointLocation", graft.TempDirs.create(s"$name-ckpt"))
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    spark.table(name)
  }

  /** Stream-STREAM inner join with event-time bounds: two independent
    * live file streams over the events table (purchases vs clicks), joined
    * per user where the click lands in the hour before the purchase. The
    * time-range predicate plus both watermarks lets Spark evict join state
    * (a click older than the watermark − 1 h can never match again) — the
    * unbounded-state killer for stream-stream joins at 100 TB/day. Drained
    * with AvailableNow, the result settles to EXACTLY the batch interval
    * join, hash-checked against DuckDB (gate entry `r30_stream_join`). */
  def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema // raw vintage (tsToNs normalizes)
    val name = s"graft_stream_join_${counter.incrementAndGet()}"
    val watchDir = graft.TempDirs.create("stream-join")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(watchDir, "events.parquet"),
      java.nio.file.Paths.get(path).toAbsolutePath)
    def eventStream() = graft.Tables.tsToNs(spark.readStream.schema(schema).parquet(watchDir))
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    val purchases = eventStream().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("ts_ns").as("purchase_ns"))
      .withWatermark("purchase_ts", "10 minutes")
    val clicks = eventStream().filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"), col("ts_ns").as("click_ns"))
      .withWatermark("click_ts", "10 minutes")
    // Two layers: the JOIN carries a COARSE event-time range on the
    // watermarked timestamp columns (µs precision — the condition Spark's
    // state cleanup reasons about, widened 1 s each way so truncation can
    // never exclude a true match); a stateless post-FILTER applies the
    // EXACT window on the raw nanosecond longs. Testdata timestamps have
    // sub-ms components, so the oracle (TIMESTAMP_NS arithmetic in DuckDB)
    // is only reproducible at full ns precision — a µs-truncated join
    // bound alone could flip pairs at the window boundary. Keeping the ns
    // predicate OUT of the join condition also keeps the condition
    // watermark-analyzable (non-event-time conjuncts defeat the state
    // eviction analysis).
    val joined = purchases.join(clicks,
      col("p_user") === col("user_id") &&
        col("click_ts") <= col("purchase_ts") + expr("interval 1 second") &&
        col("click_ts") >= col("purchase_ts") - expr("interval 3601 seconds"))
      .filter(col("click_ns") <= col("purchase_ns") &&
        col("click_ns") >= col("purchase_ns") - lit(3600000000000L))
      .select(col("purchase_id"), col("click_id"),
        unix_millis(col("purchase_ts")).as("purchase_ms"),
        unix_millis(col("click_ts")).as("click_ms"))
    // a stream-stream join runs 4 state-store instances per shuffle
    // partition; their per-batch commit cost, not the data, dominates a
    // bounded drain. Size the partition count to the state volume for the
    // drain (production tracks data rate via the session conf), restore
    // after.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = joined.writeStream
        .format("memory").queryName(name)
        // join state checkpoints are the dominant cost of this entry — keep
        // them on the tmpfs scratch, not disk-backed java.io.tmpdir
        .option("checkpointLocation", graft.TempDirs.create(s"$name-ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    spark.table(name)
  }

  /** Stream-STREAM LEFT OUTER join with watermark-bounded state — r30's
    * inner form completed with outer semantics: every purchase keeps its
    * row even when NO click landed in the preceding hour. The
    * null-padded side of an outer stream-stream join only emits when the
    * GLOBAL watermark (min across both inputs) passes the row's
    * join-state expiry, so a far-future sentinel event in EACH stream
    * (user_id −1 at max+2h, filtered from the output by a stateless
    * predicate) pushes the final watermark past every real purchase and
    * the AvailableNow drain — sentinel file in a second micro-batch via
    * maxFilesPerTrigger, followed by Spark's no-data flush batch —
    * settles to EXACTLY the batch LEFT JOIN (oracle r49). The join
    * window lives at Spark's native µs timestamp precision with BOTH
    * conjuncts on watermarked event-time columns (state-eviction
    * analyzable; the oracle replays the same integer-µs window), unlike
    * r30 whose contract is the ns-exact window via stateless post-filter
    * — an outer join cannot post-filter (it would drop null rows), so
    * its window IS the µs condition. */
  def streamOuterJoin(spark: SparkSession, dir: String): DataFrame =
    streamOuterJoinImpl(spark, dir, "left_outer")

  /** Stream-stream FULL OUTER join — [[streamOuterJoin]]'s family
    * completed symmetrically: purchases with no click in the preceding
    * hour AND clicks that preceded no purchase within the following hour
    * both emit null-padded once the global watermark passes their state
    * expiry. The same two-sentinel eviction drive works unchanged — each
    * sentinel file carries BOTH event types, so both sides' watermarks
    * advance and both null sides evict (right-null rows under the same
    * batch-behind lag as left-null). Settles to EXACTLY the batch FULL
    * JOIN at µs precision (oracle r55). Sentinel rows are removed from
    * the materialized sink output with null-safe predicates — either id
    * may now legitimately be null. */
  def streamFullOuterJoin(spark: SparkSession, dir: String): DataFrame =
    streamOuterJoinImpl(spark, dir, "full_outer")

  private def streamOuterJoinImpl(spark: SparkSession, dir: String,
                                  joinType: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val batch = spark.read.parquet(path) // raw vintage (tsToNs normalizes)
    val name = s"graft_stream_outer_${counter.incrementAndGet()}"
    val watchDir = graft.TempDirs.create("stream-outer")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(watchDir, "events.parquet"),
      java.nio.file.Paths.get(path).toAbsolutePath)
    val maxNs = graft.Tables.tsToNs(batch).agg(max(col("ts_ns"))).head.getLong(0)
    import spark.implicits._
    // one sentinel per STREAM per FILE: each passes its side's type filter
    // and advances that side's watermark (the global watermark is the
    // min). TWO sentinel files, because null-padded eviction always runs
    // one batch BEHIND the watermark update (state is evicted with the
    // PREVIOUS batch's watermark): file 2's batch evicts under file 1's
    // watermark, and the final no-data flush batch sweeps the rest under
    // file 2's — belt and braces around whether the flush batch fires.
    Seq(1, 2).foreach { i =>
      val sentinelTmp = graft.TempDirs.create(s"$name-sentinel$i")
      Seq("purchase", "click").toDF("event_type")
        .select(lit(-9L * i).as("event_id"),
          graft.Tables.tsRawLit(batch.schema, maxNs + i * 7200L * 1000000000L).as("ts"),
          lit(-1L).as("user_id"), col("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(sentinelTmp)
      val part = new java.io.File(sentinelTmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(watchDir, s"zz_sentinel$i.parquet")
      java.nio.file.Files.move(part, dst)
      // file-source batch order is mtime: sentinels land after the (old)
      // testdata file, in order
      dst.toFile.setLastModified(System.currentTimeMillis + i * 2000L): Unit
    }
    def eventStream() = graft.Tables.tsToNs(
        spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(watchDir))
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    val purchases = eventStream().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    val clicks = eventStream().filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    // NOTE: no sentinel filter inside the streaming plan — a
    // deterministic left-side predicate (p_user >= 0) gets pushed below
    // EventTimeWatermark into the scan, so the sentinel rows would be
    // dropped BEFORE advancing the watermark and the newest real
    // purchases would never null-evict (observed). Sentinels are removed
    // from the materialized sink output instead (ids are negative).
    val joined = purchases.join(clicks,
        col("p_user") === col("user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("interval 1 hour"),
        joinType)
      .select(col("purchase_id"), col("click_id"),
        unix_millis(col("purchase_ts")).as("purchase_ms"),
        unix_millis(col("click_ts")).as("click_ms"))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = joined.writeStream
        .format("memory").queryName(name)
        .option("checkpointLocation", graft.TempDirs.create(s"$name-ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    // sentinel removal, null-safe (FULL OUTER legitimately nulls either
    // id): a sentinel never pairs with a real row (user −1), so negative
    // ids appear only on sentinel-sourced rows
    spark.table(name).filter(
      coalesce(col("purchase_id"), lit(0L)) >= 0 &&
        coalesce(col("click_id"), lit(0L)) >= 0)
  }

  /** Streaming SESSION WINDOWS via Spark's BUILT-IN `session_window`
    * (the engine-native half of the sessionization story — r31 runs the
    * same semantics through a custom flatMapGroupsWithState engine;
    * this entry proves the declarative gap-window aggregate): per-user
    * 30-minute-gap sessions over a live event stream, append mode, so a
    * session only emits once the watermark passes its end. A session is
    * [min ts, max ts + gap); an event at EXACTLY prev+gap starts a new
    * session (half-open window overlap). Two far-future sentinel files
    * (user −1, filtered post-sink) drive the final watermark past every
    * real session's end — same batch-behind eviction lag as r49 — so
    * the AvailableNow drain settles to EXACTLY the batch gaps-and-
    * islands SQL at µs precision (oracle r54). */
  def streamSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val batch = spark.read.parquet(path)
    val name = s"graft_stream_swin_${counter.incrementAndGet()}"
    val watchDir = graft.TempDirs.create("stream-swin")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(watchDir, "events.parquet"),
      java.nio.file.Paths.get(path).toAbsolutePath)
    val maxNs = graft.Tables.tsToNs(batch).agg(max(col("ts_ns"))).head.getLong(0)
    import spark.implicits._
    Seq(1, 2).foreach { i =>
      val sentinelTmp = graft.TempDirs.create(s"$name-sentinel$i")
      Seq(s"sentinel$i").toDF("event_type")
        .select(lit(-9L * i).as("event_id"),
          graft.Tables.tsRawLit(batch.schema, maxNs + i * 7200L * 1000000000L).as("ts"),
          lit(-1L).as("user_id"), col("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(sentinelTmp)
      val part = new java.io.File(sentinelTmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(watchDir, s"zz_sentinel$i.parquet")
      java.nio.file.Files.move(part, dst)
      dst.toFile.setLastModified(System.currentTimeMillis + i * 2000L): Unit
    }
    val sessions = graft.Tables.tsToNs(
        spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(watchDir))
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_millis(col("w.start")).as("session_start_ms"),
        unix_millis(col("w.end")).as("session_end_ms"), col("n_events"))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = sessions.writeStream
        .format("memory").queryName(name)
        .option("checkpointLocation", graft.TempDirs.create(s"$name-ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    // sentinel sessions are the only user -1 rows; stateless post-sink drop
    spark.table(name).filter(col("user_id") >= 0)
  }

  /** Streaming windowed funnel over a live file stream — the CEP operator
    * ([[StreamingOps.funnelStream]]) hash-checked against the SAME DuckDB
    * SQL as the batch window-chain form (r40). Two micro-batches by
    * construction (maxFilesPerTrigger=1): batch 1 is the events table,
    * batch 2 a per-user far-future sentinel whose arrival emits each
    * user's funnel row from O(1) state — emission on DATA evidence
    * crossing a real micro-batch boundary, exercising the state handoff. */
  def streamFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val batch = spark.read.parquet(path) // raw vintage (tsToNs normalizes)
    val name = s"graft_stream_funnel_${counter.incrementAndGet()}"
    val watchDir = graft.TempDirs.create("stream-funnel")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(watchDir, "events.parquet"),
      java.nio.file.Paths.get(path).toAbsolutePath)
    val maxNs = graft.Tables.tsToNs(batch).agg(max(col("ts_ns"))).head.getLong(0)
    val sentinelTmp = graft.TempDirs.create(s"$name-sentinel")
    batch.select(col("user_id")).distinct()
      .select(lit(-1L).as("event_id"),
        graft.Tables.tsRawLit(batch.schema, maxNs + 7200L * 1000000000L).as("ts"),
        col("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"), lit("").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(sentinelTmp)
    val part = new java.io.File(sentinelTmp).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get.toPath
    val dst = java.nio.file.Paths.get(watchDir, "zz_sentinel.parquet")
    java.nio.file.Files.move(part, dst)
    // file-source batch order is mtime: the sentinel must land AFTER the
    // (old) testdata file so state is complete before emission
    dst.toFile.setLastModified(System.currentTimeMillis): Unit
    val rows = graft.Tables.tsToNs(spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(watchDir))
      .select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000000").as("ts_ms"))
      .as[StreamingOps.FunnelEvent]
    val funnel = StreamingOps.funnelStream(rows,
      Seq("view", "click", "purchase"), 86400000L)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = funnel.writeStream
        .format("memory").queryName(name)
        .option("checkpointLocation", graft.TempDirs.create(s"$name-ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    spark.table(name)
  }

  /** Streaming sessionization over a live file stream — the
    * flatMapGroupsWithState custom-state operator
    * ([[StreamingOps.sessionizeStream]]), hash-checked against the SAME
    * DuckDB SQL as the batch gap-window form (r15). Two micro-batches by
    * construction (maxFilesPerTrigger=1): batch 1 is the events table,
    * batch 2 a per-user far-future sentinel row whose arrival closes every
    * user's final open session — sessions close on DATA evidence crossing
    * a real micro-batch boundary, exercising the state handoff; sentinel
    * sessions themselves stay open and are never emitted. */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val batch = spark.read.parquet(path) // raw vintage (tsToNs normalizes)
    val name = s"graft_stream_sessions_${counter.incrementAndGet()}"
    val watchDir = graft.TempDirs.create("stream-sessions")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(watchDir, "events.parquet"),
      java.nio.file.Paths.get(path).toAbsolutePath)
    // one sentinel per user, 2 h past the corpus max — beyond any 30-min
    // gap, so it can only CLOSE sessions, never join one
    val maxNs = graft.Tables.tsToNs(batch).agg(max(col("ts_ns"))).head.getLong(0)
    val sentinelTmp = graft.TempDirs.create(s"$name-sentinel")
    batch.select(col("user_id")).distinct()
      .select(lit(-1L).as("event_id"),
        graft.Tables.tsRawLit(batch.schema, maxNs + 7200L * 1000000000L).as("ts"),
        col("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"), lit("").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(sentinelTmp)
    val part = new java.io.File(sentinelTmp).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get.toPath
    val dst = java.nio.file.Paths.get(watchDir, "zz_sentinel.parquet")
    java.nio.file.Files.move(part, dst)
    // file-source batch order is mtime: sentinels must land AFTER the
    // (old) testdata file so late events never chase a sentinel session
    dst.toFile.setLastModified(System.currentTimeMillis): Unit
    val rows = graft.Tables.tsToNs(spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(watchDir))
      .select(col("user_id"), col("event_id"), col("ts_ns"),
        expr("ts_ns div 1000000").as("ts_ms"))
      .as[StreamingOps.SessionEvent]
    val sessions = StreamingOps.sessionizeStream(rows)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = sessions.writeStream
        .format("memory").queryName(name)
        .option("checkpointLocation", graft.TempDirs.create(s"$name-ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    spark.table(name)
  }

  /** Streaming exact dedup over a live file stream: every (user_id,
    * event_type) pair seen at most once, state bounded by the watermark
    * (StreamingOps.streamingDedup — the 100 TB/day ingest shape). Which
    * ROW survives per pair is arrival-order-dependent, so the entry emits
    * only the deduped keys; those settle to exactly the batch DISTINCT,
    * hash-checked against DuckDB. */
  /** Engine-NATIVE streaming dedup via `dropDuplicatesWithinWatermark`
    * (Spark 3.5's built-in, next to d10's custom flatMapGroupsWithState
    * engine — the r54-vs-r31 pairing applied to dedup): the first
    * arrival per (user_id, event_type) emits immediately in append mode;
    * state evicts on watermark passage, which on this single-file
    * AvailableNow drain never fires mid-data, so the emitted set is
    * exactly DISTINCT — d10's oracle verbatim. At production cadence the
    * watermark bound is the whole point: state is bounded by the dedup
    * horizon, not the stream's lifetime. */
  def streamDedupNative(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val name = s"graft_stream_dedup_nat_${counter.incrementAndGet()}"
    val watchDir = graft.TempDirs.create("stream-dedup-nat")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(watchDir, "events.parquet"),
      java.nio.file.Paths.get(path).toAbsolutePath)
    val deduped = graft.Tables.tsToNs(spark.readStream.schema(schema).parquet(watchDir))
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = deduped.writeStream
        .format("memory").queryName(name)
        .option("checkpointLocation", graft.TempDirs.create(s"$name-ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    spark.table(name)
  }

  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema // raw vintage (tsToNs normalizes)
    val name = s"graft_stream_dedup_${counter.incrementAndGet()}"
    val watchDir = graft.TempDirs.create("stream-dedup")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(watchDir, "events.parquet"),
      java.nio.file.Paths.get(path).toAbsolutePath)
    val deduped = StreamingOps.streamingDedup(
      graft.Tables.tsToNs(spark.readStream.schema(schema).parquet(watchDir))
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000"))),
      idCols = Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"))
    // per-batch state-store commit cost scales with partition count, not
    // data, on a bounded drain — size to the state volume like r30
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = deduped.writeStream
        .format("memory").queryName(name)
        .option("checkpointLocation", graft.TempDirs.create(s"$name-ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    spark.table(name)
  }
}
