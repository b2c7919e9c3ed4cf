package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.TestSpark
import graft.lake.MorTable
import graft.sources.ChangelogSource
import StreamingOps.Event

/** Structured Streaming semantics: micro-batched changelog → MOR commits
  * (one batch = one commit, T1), keyed running state in update mode (T3),
  * and watermark-driven window finalization with late-data drop. */
class StreamingOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("S8/T1 file changelog stream → MOR sink: one micro-batch per segment, exactly-once ids") {
    val watch = TestSpark.tmpDir("cl-watch")
    val person = Seq((1.0, "Ann"), (2.0, "Bob")).toDF("id", "full_name")
    val log = ChangelogSource.fromOps(
      Seq(("I", 1.0, "Ann", 1L), ("I", 2.0, "Bob", 2L), ("U", 1.0, "Annette", 3L))
        .toDF("op", "id", "full_name", "seq"), Seq("id"))
    // two WAL segments land as two files → two micro-batches (maxFilesPerTrigger=1)
    log.filter($"seq" <= 2).write.parquet(s"$watch/seg1")
    log.filter($"seq" === 3).write.parquet(s"$watch/seg2")

    val table = MorTable(spark, TestSpark.tmpDir("cl-mor"), Seq("id"),
      compactionDeltaCommits = 100)
    val q = StreamingOps.streamChangelogToMor(
      StreamingOps.changelogStream(spark, s"$watch/*/", log),
      table, TestSpark.tmpDir("cl-ckpt"))
    q.awaitTermination(120000)
    val m = table.read().collect().map(r => r.getDouble(0) -> r.getString(1)).toMap
    assert(m == Map(1.0 -> "Annette", 2.0 -> "Bob"))
    // one streaming micro-batch == one delta commit on the timeline
    assert(table.timeline().count(_.kind == "delta") == 2)
  }

  test("changelog stream → PARTITIONED sink: rows land per partition, delete propagates") {
    val watch = TestSpark.tmpDir("pcl-watch")
    val log = ChangelogSource.fromOps(
      Seq(("I", 1.0, "a", "Ann", 1L), ("I", 2.0, "b", "Bob", 2L),
        ("U", 1.0, "a", "Annette", 3L), ("D", 2.0, "b", "Bob", 4L))
        .toDF("op", "id", "region", "full_name", "seq"), Seq("id"))
    log.filter($"seq" <= 2).write.parquet(s"$watch/seg1")
    log.filter($"seq" > 2).write.parquet(s"$watch/seg2")
    val table = new graft.lake.PartitionedMorTable(spark, TestSpark.tmpDir("pcl-mor"),
      keyCols = Seq("id"), partCol = "region", compactionDeltaCommits = 100,
      autoCompact = false)
    val q = StreamingOps.streamChangelogToPartitionedMor(
      StreamingOps.changelogStream(spark, s"$watch/*/", log),
      table, TestSpark.tmpDir("pcl-ckpt"))
    q.awaitTermination(120000)
    val m = table.read().collect()
      .map(r => r.getAs[Double]("id") -> r.getAs[String]("full_name")).toMap
    assert(m == Map(1.0 -> "Annette"), m.toString) // Bob deleted in batch 2
    assert(table.partitions().toSet == Set("a", "b"), "both children materialized")
    // one micro-batch == one parent token; replay of a committed batch no-ops
    assert(table.parentTimeline().count(_.kind == "delta") == 2)
  }

  test("T2 restart recovery: same checkpoint resumes, no duplicate commits") {
    val watch = TestSpark.tmpDir("t2-watch")
    val ckpt = TestSpark.tmpDir("t2-ckpt")
    val log = ChangelogSource.fromOps(
      Seq(("I", 1.0, "Ann", 1L), ("I", 2.0, "Bob", 2L), ("U", 1.0, "Annette", 3L))
        .toDF("op", "id", "full_name", "seq"), Seq("id"))
    val table = MorTable(spark, TestSpark.tmpDir("t2-mor"), Seq("id"),
      compactionDeltaCommits = 100)
    log.filter($"seq" <= 2).write.parquet(s"$watch/seg1")
    val q1 = StreamingOps.streamChangelogToMor(
      StreamingOps.changelogStream(spark, s"$watch/*/", log), table, ckpt)
    q1.awaitTermination(120000)
    val commitsAfterFirst = table.timeline().size
    // "crash" (query ended) → new segment lands → restart with SAME checkpoint
    log.filter($"seq" === 3).write.parquet(s"$watch/seg2")
    val q2 = StreamingOps.streamChangelogToMor(
      StreamingOps.changelogStream(spark, s"$watch/*/", log), table, ckpt)
    q2.awaitTermination(120000)
    // only the new segment became a commit; seg1 not reprocessed
    assert(table.timeline().size == commitsAfterFirst + 1)
    val m = table.read().collect().map(r => r.getDouble(0) -> r.getString(1)).toMap
    assert(m == Map(1.0 -> "Annette", 2.0 -> "Bob"))
  }

  test("T3 mapGroupsWithState: latest event per user, re-emitted on change") {
    val mem = MemoryStream[Event]
    val q = StreamingOps.lastEventPerUser(mem.toDS())
      .writeStream.format("memory").queryName("last_ev")
      .outputMode(OutputMode.Update()).start()
    mem.addData(Event(1, 10, "a", 1.0, 100), Event(2, 20, "b", 2.0, 200))
    q.processAllAvailable()
    mem.addData(Event(1, 11, "c", 3.0, 300)) // newer for user 1
    mem.addData(Event(1, 12, "d", 9.0, 50))  // OLDER — must not win
    q.processAllAvailable()
    val last = spark.table("last_ev")
      .groupBy($"user_id").agg(max(struct($"ts_ms", $"event_id", $"value")).as("s"))
      .select($"user_id", $"s.value".as("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(last == Map(1L -> 3.0, 2L -> 2.0))
    q.stop()
  }

  test("streaming dedup: duplicate ids dropped across micro-batches, state watermark-bounded") {
    val mem = MemoryStream[Event]
    val events = mem.toDS().toDF().withColumn("ts", timestamp_millis($"ts_ms"))
    val q = StreamingOps.streamingDedup(events, Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData(Event(1, 100, "a", 1.0, 60000), Event(1, 100, "a", 1.0, 60000))
    q.processAllAvailable()
    mem.addData(Event(1, 100, "a", 1.0, 61000))  // dup id in later batch
    mem.addData(Event(2, 200, "b", 2.0, 62000))
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == Seq(100L, 200L))
    q.stop()
  }

  test("stream-stream interval join settles to the batch join (r30 shape)") {
    val got = StreamingQueries.streamJoin(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val ev = graft.Tables.events(spark, TestSpark.sfDir)
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"),
        $"ts_ms".as("purchase_ms"), $"ts_ns".as("purchase_ns"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"),
        $"ts_ms".as("click_ms"), $"ts_ns".as("click_ns"))
    val batch = p.join(c, Seq("user_id"))
      .filter($"click_ns" <= $"purchase_ns" &&
        $"click_ns" >= $"purchase_ns" - 3600000000000L)
      .select($"purchase_id", $"click_id", $"purchase_ms", $"click_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.nonEmpty && got == batch)
  }

  test("watermark: late event beyond lateness is dropped from its window") {
    val mem = MemoryStream[Event]
    val events = mem.toDS().toDF()
      .withColumn("ts", timestamp_millis($"ts_ms"))
    val q = StreamingOps.windowedCounts(events, lateness = "10 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append()).start()
    val h = 3600000L
    mem.addData(Event(1, 1, "a", 1.0, h + 60000))      // window [1h,2h)
    q.processAllAvailable()
    mem.addData(Event(1, 2, "a", 1.0, 3 * h))           // watermark → 2:50
    q.processAllAvailable()
    mem.addData(Event(1, 3, "a", 100.0, h + 120000))    // LATE: window closed
    q.processAllAvailable()
    mem.addData(Event(1, 4, "a", 1.0, 5 * h))           // close [3h,4h) too
    q.processAllAvailable()
    val rows = spark.table("win_counts")
      .select($"window_start_ms", $"cnt", $"sum_value").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // late event (value=100) did NOT make it into the finalized [1h,2h) window
    assert(rows(h) == ((1L, 1.0)))
    q.stop()
  }

  test("streaming sessionization: open session survives the batch boundary, closes on data evidence") {
    import StreamingOps.SessionEvent
    def ev(u: Long, id: Long, tsMs: Long) = SessionEvent(u, id, tsMs * 1000000L, tsMs)
    val watch = TestSpark.tmpDir("sess-watch")
    // batch 1: u1 session opens (two events 10 s apart); u2 lone event
    Seq(ev(1, 1, 0L), ev(1, 2, 10000L), ev(2, 5, 5000L)).toDS()
      .coalesce(1).write.parquet(s"$watch/seg1")
    // batch 2: u1 event at 20 s EXTENDS the cross-batch session, then a
    // far event closes it; u2's far event closes its session
    Seq(ev(1, 3, 20000L), ev(1, 4, 10000000L), ev(2, 6, 50000000L)).toDS()
      .coalesce(1).write.parquet(s"$watch/seg2")
    // file-source batch order is mtime — pin it
    for ((seg, t) <- Seq("seg1" -> 1000L, "seg2" -> 5000L);
         f <- new java.io.File(s"$watch/$seg").listFiles())
      f.setLastModified(1700000000000L + t): Unit
    val rows = spark.readStream
      .schema(Seq.empty[SessionEvent].toDS().schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$watch/*/")
      .as[SessionEvent]
    val name = "sess_stream_spec"
    val q = StreamingOps.sessionizeStream(rows)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", TestSpark.tmpDir("sess-ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table(name)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // u1 session 1 spans BOTH batches (n=3, end=20 s) — the state handoff;
    // the far events open session 2 per user, which stays open (not emitted)
    assert(got == Set((1L, 1L, 0L, 20000L, 3L), (2L, 1L, 5000L, 5000L, 1L)), got)
  }

  test("streaming funnel: chain crosses the batch boundary; tie rule holds in-batch; sentinel emits") {
    import StreamingOps.FunnelEvent
    val H = 3600000L
    def ev(u: Long, t: String, ms: Long) = FunnelEvent(u, t, ms)
    val watch = TestSpark.tmpDir("funnel-watch")
    // batch 1: u1's view; u2's same-ms view+click (tie — click must NOT
    // qualify); u3 completes nothing
    Seq(ev(1, "view", 0L), ev(2, "view", 5 * H), ev(2, "click", 5 * H),
        ev(3, "click", 0L)).toDS()
      .coalesce(1).write.parquet(s"$watch/seg1")
    // batch 2: u1's click (1 h after the batch-1 view — the handoff) and
    // purchase; u2's purchase finds no qualified click
    Seq(ev(1, "click", 1 * H), ev(1, "purchase", 2 * H),
        ev(2, "purchase", 6 * H)).toDS()
      .coalesce(1).write.parquet(s"$watch/seg2")
    // batch 3: sentinels emit every user's row from state
    Seq(ev(1, "sentinel", 100 * H), ev(2, "sentinel", 100 * H),
        ev(3, "sentinel", 100 * H)).toDS()
      .coalesce(1).write.parquet(s"$watch/seg3")
    for ((seg, t) <- Seq("seg1" -> 1000L, "seg2" -> 5000L, "seg3" -> 9000L);
         f <- new java.io.File(s"$watch/$seg").listFiles())
      f.setLastModified(1700000000000L + t): Unit
    val rows = spark.readStream
      .schema(Seq.empty[FunnelEvent].toDS().schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$watch/*/")
      .as[FunnelEvent]
    val name = "funnel_stream_spec"
    val q = StreamingOps.funnelStream(rows, Seq("view", "click", "purchase"), 24 * H)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", TestSpark.tmpDir("funnel-ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table(name).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == Map(
      1L -> ((1L, 1L, 1L, 2 * H)), // chain completed ACROSS batches
      2L -> ((1L, 0L, 0L, -1L)),   // same-ms click never qualified
      3L -> ((0L, 0L, 0L, -1L))), got)
  }

  test("streaming funnel: sentinel CLOSES the user — state freed, repeat sentinel emits fresh, not stale") {
    import StreamingOps.FunnelEvent
    val H = 3600000L
    val watch = TestSpark.tmpDir("funnelclose-watch")
    // batch 1: a completed 2-step chain + the closing sentinel
    Seq(FunnelEvent(1, "a", 0L), FunnelEvent(1, "b", 1 * H),
        FunnelEvent(1, "sentinel", 2 * H)).toDS()
      .coalesce(1).write.parquet(s"$watch/seg1")
    // batch 2: a bare repeated sentinel — with close semantics this emits
    // a ZERO row (fresh funnel), never a duplicate of the batch-1 row
    Seq(FunnelEvent(1, "sentinel", 3 * H)).toDS()
      .coalesce(1).write.parquet(s"$watch/seg2")
    for ((seg, t) <- Seq("seg1" -> 1000L, "seg2" -> 5000L);
         f <- new java.io.File(s"$watch/$seg").listFiles())
      f.setLastModified(1700000000000L + t): Unit
    val rows = spark.readStream
      .schema(Seq.empty[FunnelEvent].toDS().schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$watch/*/")
      .as[FunnelEvent]
    val name = "funnelclose_stream_spec"
    val q = StreamingOps.funnelStreamCounts(rows, Seq("a", "b"), 24 * H)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", TestSpark.tmpDir("funnelclose-ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq.sortBy(_._3)
    assert(got == Seq((1L, Seq(0L, 0L), -1L), (1L, Seq(1L, 1L), 1 * H)), got)
  }

  test("streaming funnel engine generalizes: 4-step chain across batches") {
    import StreamingOps.FunnelEvent
    val H = 3600000L
    val watch = TestSpark.tmpDir("funnel4-watch")
    Seq(FunnelEvent(1, "a", 0L), FunnelEvent(1, "b", 1 * H)).toDS()
      .coalesce(1).write.parquet(s"$watch/seg1")
    Seq(FunnelEvent(1, "c", 2 * H), FunnelEvent(1, "d", 3 * H),
        FunnelEvent(1, "sentinel", 100 * H)).toDS()
      .coalesce(1).write.parquet(s"$watch/seg2")
    for ((seg, t) <- Seq("seg1" -> 1000L, "seg2" -> 5000L);
         f <- new java.io.File(s"$watch/$seg").listFiles())
      f.setLastModified(1700000000000L + t): Unit
    val rows = spark.readStream
      .schema(Seq.empty[FunnelEvent].toDS().schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$watch/*/")
      .as[FunnelEvent]
    val name = "funnel4_stream_spec"
    val q = StreamingOps.funnelStreamCounts(rows, Seq("a", "b", "c", "d"), 24 * H)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", TestSpark.tmpDir("funnel4-ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, Seq(1L, 1L, 1L, 1L), 3 * H)), got.toSeq)
  }
}
