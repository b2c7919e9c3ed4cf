package graft.lake

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Multi-writer OCC: a compaction racing a slow writer must never
  * permanently shadow that writer's commit (the `unfolded` protocol), a
  * retained tombstone must keep beating a late straggler's older rows,
  * and parent-level tokens must be race-free. */
class MultiWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = graft.TempDirs.create("mwr")

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Simulate a writer that CLAIMED seq (inflight marker up) and wrote its
    * delta data, but has not published the instant yet. */
  private def claimDelta(path: String, seq: Long, rows: Seq[(Long, Int)]): Unit = {
    val f = fs(path)
    val marker = new Path(path, s"timeline/$seq.delta.inflight")
    f.mkdirs(marker.getParent)
    val out = f.create(marker, false); out.close()
    rows.toDF("k", "v")
      .withColumn("_record_key", col("k").cast("string"))
      .withColumn("_deleted", lit(false))
      .withColumn("_commit_seqno", lit(seq))
      .withColumn("_commit_time", lit(CommitRows.commitTimeString(seq)))
      .write.mode("overwrite").parquet(s"$path/delta/$seq")
  }

  /** claimDelta for an arbitrary row schema. */
  private def claimDeltaDf(path: String, seq: Long,
                           df: org.apache.spark.sql.DataFrame): Unit = {
    val f = fs(path)
    val marker = new Path(path, s"timeline/$seq.delta.inflight")
    f.mkdirs(marker.getParent)
    val out = f.create(marker, false); out.close()
    df.withColumn("_record_key", col("k").cast("string"))
      .withColumn("_deleted", lit(false))
      .withColumn("_commit_seqno", lit(seq))
      .withColumn("_commit_time", lit(CommitRows.commitTimeString(seq)))
      .write.mode("overwrite").parquet(s"$path/delta/$seq")
  }

  /** The claimed writer finally publishes. */
  private def publishDelta(path: String, seq: Long, batchId: Long): Unit = {
    val f = fs(path)
    val dst = new Path(path, s"timeline/$seq.delta.json")
    val out = f.create(dst, false)
    out.write(MorTable.Instant(seq, "delta", batchId, seq).toJson
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    f.delete(new Path(path, s"timeline/$seq.delta.inflight"), false)
    ()
  }

  test("compact racing an inflight delta: commit replayed once published, survives clean") {
    val path = tmp()
    val t = new MorTable(spark, path, Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false)
    t.upsert(Seq((1L, 10)).toDF("k", "v"), Seq(col("k")), batchId = 1L)
    t.upsert(Seq((2L, 20)).toDF("k", "v"), Seq(col("k")), batchId = 2L)
    claimDelta(path, 3L, Seq((3L, 30)))     // writer A: claimed, unpublished
    t.compact()                             // writer B compacts at seq 4
    val c = t.timeline().filter(_.kind == "compact").last
    assert(c.unfolded == Seq(3L), "compact must record the inflight delta as unfolded")
    assert(t.read().count() == 2)           // A unpublished: not visible yet
    publishDelta(path, 3L, batchId = 3L)    // A finally publishes
    assert(t.read().collect().map(r => r.getLong(0) -> r.getInt(1)).toMap ==
      Map(1L -> 10, 2L -> 20, 3L -> 30),
      "late-published commit below the base seq must be replayed, not shadowed")
    t.clean()                               // must NOT remove the unfolded delta
    assert(t.read().count() == 3, "clean() must preserve unfolded straggler data")
    t.compact()                             // next compact folds the straggler
    assert(t.timeline().filter(_.kind == "compact").last.unfolded.isEmpty)
    assert(t.read().count() == 3)
    t.clean()
    assert(!fs(path).exists(new Path(path, "delta/3")), "folded straggler now cleanable")
    assert(t.read().count() == 3)
  }

  test("compactMinor racing an inflight delta: same unfolded protocol as compact") {
    val path = tmp()
    val t = new MorTable(spark, path, Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 2)
    t.upsert((1 to 100).map(i => (i.toLong, i)).toDF("k", "v"), Seq(col("k")), batchId = 1L)
    t.compact() // base with per-file key bounds
    t.upsert(Seq((5L, 500)).toDF("k", "v"), Seq(col("k")), batchId = 2L)
    claimDelta(path, 4L, Seq((60L, 600)))   // writer A: claimed, unpublished
    t.compactMinor()                        // writer B: minor compaction
    val c = t.timeline().filter(_.kind == "compact").last
    assert(c.unfolded == Seq(4L), "minor compaction must record the inflight delta as unfolded")
    assert(t.read().filter(col("k") === 5L).head.getInt(1) == 500, "delta folded")
    publishDelta(path, 4L, batchId = 4L)
    assert(t.read().collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      .get(60L).contains(600),
      "late-published commit below the minor-compact seq must be replayed, not shadowed")
    t.clean()
    assert(t.read().count() == 100, "clean() must preserve the unfolded straggler")
  }

  test("delta publishing between minor-plan and merge stays live (no dup base rows)") {
    val path = tmp()
    val t = new MorTable(spark, path, Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 2)
    t.upsert((1 to 100).map(i => (i.toLong, i)).toDF("k", "v"), Seq(col("k")), batchId = 1L)
    t.compact()
    t.upsert(Seq((5L, 500)).toDF("k", "v"), Seq(col("k")), batchId = 2L)
    // writer B plans a minor compaction: only the low-key file is affected
    val plan = t.minorPlan().get
    assert(plan.carried.nonEmpty)
    // writer A publishes a delta touching a key in a CARRIED file's range
    // AFTER the plan's listing — replaying compactMinor's body with the
    // stale plan must treat it as unplanned, not fold it
    val t2 = new MorTable(spark, path, Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false)
    t2.upsert(Seq((90L, 900)).toDF("k", "v"), Seq(col("k")), batchId = 3L)
    val prep = t.prepareCompact(baseFiles = Some(plan.affected),
      onlyDeltas = Some(plan.plannedDeltaSeqs))
    val staging = new Path(path, s".staging-compact-race")
    prep.df.repartitionByRange(2, col("_record_key"))
      .sortWithinPartitions(col("_record_key"))
      .write.mode("overwrite").parquet(staging.toString)
    t.copyCarried(plan.carried, staging)
    t.adoptBase(staging, prep.foldedDeltaSeqs)
    // the unplanned delta is recorded unfolded and replays on top
    val c = t.timeline().filter(_.kind == "compact").last
    assert(c.unfolded.nonEmpty, "unplanned published delta must be unfolded, not silently folded")
    val rows = t.read().collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(t.read().count() == 100, "no duplicate key rows from the stale carried file")
    assert(rows(90L) == 900, "unplanned delta replays over the carried file")
    assert(rows(5L) == 500, "planned delta folded")
    t.compact() // next full compaction folds the straggler for good
    assert(t.read().count() == 100 && t.read().filter(col("k") === 90L).head.getInt(1) == 900)
  }

  test("retained tombstone beats a straggler's older rows (no resurrect)") {
    val path = tmp()
    val t = new MorTable(spark, path, Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false)
    t.upsert(Seq((1L, 10)).toDF("k", "v"), Seq(col("k")), batchId = 1L)
    claimDelta(path, 2L, Seq((1L, 99)))     // straggler claims 2, stalls
    t.delete(Seq(Tuple1(1L)).toDF("k"), batchId = 3L) // tombstone at seq 3 > 2
    t.compact()                             // outstanding straggler → keep tombstones
    assert(t.read().isEmpty)
    publishDelta(path, 2L, batchId = 2L)    // straggler's k=1@2 arrives late
    assert(t.read().isEmpty,
      "tombstone@3 must be retained in the base so the straggler's k=1@2 loses LWW")
    t.compact()                             // straggler folded, no outstanding left
    assert(t.read().isEmpty)
    val base = t.timeline().filter(_.kind == "compact").last
    val baseRows = spark.read.parquet(s"$path/base/${base.seq}")
    assert(baseRows.filter(col("_deleted")).isEmpty,
      "straggler-free compaction drops tombstones again")
  }

  test("range read with unfolded straggler: no resurrection, no stale image") {
    val path = tmp()
    val t = new MorTable(spark, path, Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 2)
    t.upsert(Seq((1L, 50.0), (2L, 60.0), (3L, 70.0)).toDF("k", "v"),
      Seq(col("k")), batchId = 1L)
    // straggler claims seq 2 with OLDER in-range images for k=1/k=2, stalls
    claimDeltaDf(path, 2L, Seq((1L, 40.0), (2L, 45.0)).toDF("k", "v"))
    t.delete(Seq(Tuple1(1L)).toDF("k"), batchId = 3L)                 // tombstone @3
    t.updateWhere(col("k") === 2L, Map("v" -> lit(500.0)), batchId = 4L) // out of range @4
    t.compact() // straggler outstanding → unfolded=[2], tombstones retained
    assert(t.timeline().filter(_.kind == "compact").last.unfolded == Seq(2L))
    publishDelta(path, 2L, batchId = 2L)
    // base rows OUTRANK the straggler here: the pushed base filter and any
    // file pruning must be disabled, or the tombstone (null v) and the
    // out-of-range k=2@500 image get dropped from the merge and the
    // straggler's older in-range rows win LWW (resurrection / stale read)
    val got = t.readForColRanges(Seq(("v", 0.0, 100.0))).collect()
    assert(got.map(_.getLong(0)).toSet == Set(3L),
      s"expected only k=3 in range; got ${got.toSeq}")
    t.compact() // straggler folded → pruning allowed again, result unchanged
    assert(t.readForColRanges(Seq(("v", 0.0, 100.0))).collect()
      .map(_.getLong(0)).toSet == Set(3L))
  }

  test("two uncoordinated partitioned writers: distinct tokens, no lost commits") {
    val path = tmp()
    def handle() = new PartitionedMorTable(spark, path, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val writers = (0 until 2).map { w =>
      Future {
        val t = handle()
        (0 until 3).foreach { i =>
          val k = (w * 100 + i).toLong
          t.upsert(Seq((k, s"p${k % 2}", w * 1000 + i)).toDF("k", "p", "v"),
            Seq(col("k")), batchId = -1L)
        }
      }
    }
    Await.result(Future.sequence(writers), scala.concurrent.duration.Duration(300, "s"))
    pool.shutdown()
    val t = handle()
    val tokens = t.parentTimeline().map(_.seq)
    assert(tokens.distinct.size == 6, s"every commit must keep its own token: $tokens")
    assert(t.read().count() == 6, "no writer's rows may be lost")
  }

  test("parent compaction racing applyChangelog on one child: straggler replays via child unfolded") {
    val path = tmp()
    def handle() = new PartitionedMorTable(spark, path, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 2)
    val t = handle()
    t.upsert(((1 to 20).map(i => (i.toLong, "a", i)) ++
      (21 to 40).map(i => (i.toLong, "b", i))).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    t.compactPartitions(Seq("a", "b")) // bases + manifests for minor plans
    t.upsert(Seq((5L, "a", 500)).toDF("k", "p", "v"), Seq(col("k")), batchId = 2L)
    // replay compactPartitions("a")'s body, paused between plan and adopt
    val ca = t.child("a")
    val plan = ca.minorPlan()
    val prep = ca.prepareCompact(baseFiles = plan.map(_.affected),
      onlyDeltas = plan.map(_.plannedDeltaSeqs))
    // RACE: an uncoordinated writer commits a changelog batch into child a
    // AFTER the compaction's listing
    val t2 = handle()
    t2.applyChangelog(spark.sql(
      """SELECT 'U' op, '7' key, named_struct('k', 7L, 'p', 'a', 'v', 7) before,
        |       named_struct('k', 7L, 'p', 'a', 'v', 700) after, 1L seq""".stripMargin),
      batchId = 3L)
    // resume the stale compaction: stage + adopt at the CHILD level
    val staging = new Path(path, "p=a/.staging-race")
    prep.df.repartitionByRange(2, col("_record_key"))
      .sortWithinPartitions(col("_record_key"))
      .write.mode("overwrite").parquet(staging.toString)
    plan.foreach(pl => ca.copyCarried(pl.carried, staging))
    ca.adoptBase(staging, prep.foldedDeltaSeqs)
    val c = t.child("a").timeline().filter(_.kind == "compact").last
    assert(c.unfolded.nonEmpty,
      "the raced changelog delta must be recorded unfolded, not shadowed")
    def rows = t.read().collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(t.read().count() == 40, "no duplicate rows from the stale compaction")
    assert(rows(7L) == 700, "the raced writer's commit must survive the compaction")
    assert(rows(5L) == 500, "the planned delta must be folded")
    // the NEXT parent compaction folds the straggler for good
    t.compactPartitions(Seq("a"))
    assert(t.child("a").timeline().filter(_.kind == "compact").last.unfolded.isEmpty)
    assert(t.read().count() == 40 && rows(7L) == 700)
  }

  test("bypassed token allocation cannot silently replace a committed parent instant") {
    val path = tmp()
    val t = new PartitionedMorTable(spark, path, Seq("k"), "p")
    t.upsert(Seq((1L, "a", 1)).toDF("k", "p", "v"), Seq(col("k")), batchId = 1L)
    val committed = t.parentTimeline().last
    intercept[java.io.IOException] {
      t.parentLog.publish(committed.copy(batchId = 999L))
    }
    assert(t.parentTimeline().last.batchId == 1L, "committed instant untouched")
  }

  test("clean() racing a reader holding a pre-clean timeline: loud failure or consistent snapshot, never a partial merge") {
    val path = tmp()
    val t = new MorTable(spark, path, Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false)
    t.upsert(Seq((1L, 10)).toDF("k", "v"), Seq(col("k")), batchId = 1L)
    t.upsert(Seq((1L, 11), (2L, 20)).toDF("k", "v"), Seq(col("k")), batchId = 2L)
    t.compact()
    // reader A resolved the LATEST snapshot pre-clean: reads only the base,
    // which clean() retains — stays consistent
    val latest = t.read()
    // reader B resolved a TIME-TRAVEL plan over pre-compact deltas that
    // clean() physically removes
    val travel = t.readAt(1L)
    assert(t.clean() > 0)
    assert(latest.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap ==
      Map(1L -> 11, 2L -> 20), "pre-clean latest-snapshot reader stays consistent")
    // the doomed reader must FAIL (missing files surface), not silently
    // return a half-cleaned merge
    val e = intercept[Exception] { travel.collect() }
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(m =>
          m.contains("does not exist") || m.contains("FileNotFound"))),
      s"expected missing-file failure, got: $e")
    // and a FRESH read after clean sees the consistent compacted state
    assert(t.read().collect().map(r => r.getLong(0) -> r.getInt(1)).toMap ==
      Map(1L -> 11, 2L -> 20))
  }

  test("seq-allocation storm (mixed kinds): unique seqs, no lost commits, no overwrites") {
    // Regression for the post-claim-verify hole: markers are RELEASED at
    // publish, so a stale-listing writer could re-claim a published seq
    // (observed once under full-suite load), and delta-vs-compact claims
    // race under DIFFERENT marker names. Hammer both shapes at once.
    val path = tmp()
    def handle() = MorTable(spark, path, Seq("uuid"),
      compactionDeltaCommits = 1000)
    handle().upsert(Seq(("seed", 0)).toDF("uuid", "v"), Nil, batchId = 0L)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writer = Future {
      val h = handle()
      (1 to 20).foreach { i =>
        h.upsert(Seq((s"w$i", i)).toDF("uuid", "v"), Nil, batchId = i.toLong)
      }
    }
    val compactor = Future {
      val h = handle()
      (1 to 8).foreach { _ => h.compact() }
    }
    Await.result(writer, 300.seconds)
    Await.result(compactor, 300.seconds)
    val t = handle()
    val seqs = t.timeline().map(_.seq)
    assert(seqs == seqs.distinct, s"duplicate seqs: $seqs")
    assert(t.timeline().count(_.kind == "delta") == 21, "a delta commit was lost")
    assert(t.read().count() == 21, t.read().collect().mkString(","))
    val leftover = new java.io.File(s"$path/timeline").listFiles()
      .map(_.getName).filter(_.endsWith(".inflight"))
    assert(leftover.isEmpty, leftover.mkString(","))
  }

  test("concurrent upsertIfNew x upsertIfNew: disjoint writers' proofs stay truthful under compaction") {
    // Two uncoordinated writers race DISJOINT new-key batches through the
    // write-path newness proof while a third handle compacts (manifests —
    // the proof's pruning source — churn underneath the probes). The
    // insert-only contract's one untestable shape is same-key racers (the
    // documented Hudi table-lock caveat, excluded by contract); for
    // disjoint racers every flag must stay truthful: no commit may be
    // flagged insertOnly while holding a key that was LIVE at its probe,
    // the LWW-window-skip read must see exactly one row per key, and an
    // EXISTING-key probe issued after the storm must still refuse.
    val path = tmp()
    def handle() = MorTable(spark, path, Seq("uuid"),
      compactionDeltaCommits = 1000)
    handle().upsert((0 until 50).map(i => (s"seed$i", -1)).toDF("uuid", "v"),
      Nil, batchId = 0L)
    handle().compact() // manifest publishes bounds + blooms for the probes
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    def writer(tag: String, base: Int) = Future {
      val h = handle()
      (1 to 12).map { i =>
        // each batch: genuinely new keys, disjoint from the other writer
        h.upsertIfNew((0 until 5).map(j => (s"$tag${base + i}_$j", i))
          .toDF("uuid", "v"), Nil, batchId = -1L)
      }
    }
    val wa = writer("a", 100)
    val wb = writer("b", 500)
    val compactor = Future {
      val h = handle()
      (1 to 6).foreach { _ => h.compact() }
    }
    val provenA = Await.result(wa, 300.seconds)
    val provenB = Await.result(wb, 300.seconds)
    Await.result(compactor, 300.seconds)
    val t = handle()
    // every batch WAS new-keyed; a probe may conservatively refuse (bloom
    // fpp, fail-closed paths) but most must prove — and none may lie
    assert((provenA ++ provenB).count(identity) >= 12,
      s"newness proofs almost never succeed: $provenA $provenB")
    // no duplicate keys anywhere: the flags never lied to the merge-skip
    val rows = t.read().collect().map(_.getString(0))
    assert(rows.length == rows.distinct.length,
      s"duplicate keys after concurrent insert-only commits")
    assert(rows.length == 50 + 2 * 12 * 5)
    // flags truthful per instant: re-derive each flagged commit's keys and
    // check them against ALL OTHER commits' keys (disjointness) — an
    // insertOnly commit sharing a key with any other commit would be a lie
    val deltas = t.timeline().filter(_.kind == "delta")
    val keysBySeq = deltas.map(d => d.seq ->
      spark.read.parquet(s"$path/delta/${d.seq}")
        .select("_record_key").collect().map(_.getString(0)).toSet).toMap
    for (d <- deltas if d.insertOnly; other <- deltas if other.seq != d.seq) {
      val shared = keysBySeq(d.seq).intersect(keysBySeq(other.seq))
      assert(shared.isEmpty,
        s"insertOnly commit ${d.seq} shares keys with ${other.seq}: $shared")
    }
    // post-storm: an existing key still refuses, a fresh one still proves
    assert(!handle().upsertIfNew(Seq(("seed7", 9)).toDF("uuid", "v"), Nil, -1L))
    assert(handle().upsertIfNew(Seq(("brand_new", 9)).toDF("uuid", "v"), Nil, -1L))
  }

  test("table lock serializes SAME-key upsertIfNew racers: flags stay truthful for overlap") {
    // the one shape the lock exists for (the Hudi table-lock analog): two
    // writers pushing the SAME new key through the newness proof. Without
    // serialization both could prove "new" and both flag insert-only — a
    // duplicate under the merge-skip read. Under withTableLock exactly one
    // proof can succeed per key; the loser's probe sees the winner's
    // commit and refuses.
    val path = tmp()
    def handle() = MorTable(spark, path, Seq("uuid"),
      compactionDeltaCommits = 1000)
    handle().upsert(Seq(("seed", 0)).toDF("uuid", "v"), Nil, batchId = 0L)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    def writer(tag: Int) = Future {
      val h = handle()
      (1 to 8).map { i =>
        MorTable.withTableLock(spark, path) {
          h.upsertIfNew(Seq((s"shared$i", tag)).toDF("uuid", "v"), Nil, -1L)
        }
      }
    }
    val a = Await.result(writer(1), 300.seconds)
    val b = Await.result(writer(2), 300.seconds)
    val t = handle()
    // exactly one row per shared key — never a duplicate
    val rows = t.read().collect().map(_.getString(0))
    assert(rows.length == rows.distinct.length, "duplicate keys under the lock")
    assert(rows.count(_.startsWith("shared")) == 8)
    // per key, EXACTLY ONE of the two racers proved newness
    (1 to 8).foreach { i =>
      assert(a(i - 1) ^ b(i - 1), s"key shared$i: proofs a=${a(i - 1)} b=${b(i - 1)}")
    }
    // lease takeover: a crashed holder's stale lock does not wedge writers
    val fsys = fs(path)
    val out = fsys.create(new Path(path, ".tablelock"), false)
    out.write(s"dead-writer|${System.currentTimeMillis() - 1}".getBytes); out.close()
    MorTable.withTableLock(spark, path) {
      assert(handle().upsertIfNew(Seq(("after_crash", 1)).toDF("uuid", "v"), Nil, -1L))
    }
    assert(t.read().filter(col("uuid") === "after_crash").count() == 1)
  }

  test("restore racing a mid-publish writer: loud refusal, then success once published") {
    val path = tmp()
    val t = MorTable(spark, path, Seq("k"), compactionDeltaCommits = 1000)
    t.upsert(Seq((1L, 10)).toDF("k", "v"), Nil, batchId = 1L)
    t.savepoint("pin")
    t.upsert(Seq((2L, 20)).toDF("k", "v"), Nil, batchId = 2L)
    // a slow writer: claimed seq + written data, instant not yet published
    claimDelta(path, 99L, Seq((3L, 30)))
    val e = intercept[IllegalArgumentException](t.restore("pin"))
    assert(e.getMessage.contains("mid-publish"), e.getMessage)
    assert(t.read().count() == 2, "the refused restore must change nothing")
    // the writer publishes; restore now proceeds and rolls everything back
    publishDelta(path, 99L, batchId = 3L)
    assert(t.restore("pin") > 0)
    assert(t.read().collect().map(_.getLong(0)).toSeq == Seq(1L))
    // an ORPHANED marker (crashed writer, stale mtime) must NOT wedge it
    t.upsert(Seq((4L, 40)).toDF("k", "v"), Nil, batchId = 4L)
    t.savepoint("pin2")
    val f = fs(path)
    val marker = new Path(path, "timeline/200.delta.inflight")
    val out = f.create(marker, false); out.close()
    f.setTimes(marker, System.currentTimeMillis() - 600000L, -1)
    assert(t.restore("pin2") == 0, "stale orphan marker must not block restore")
  }

  test("dropPartitions/parent restore racing a mid-publish writer: loud refusal") {
    val path = tmp()
    val t = new PartitionedMorTable(spark, path, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    t.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"), Nil, batchId = 1L)
    t.savepoint("pin")
    // a parent-level writer mid-publish: claimed token, no instant yet
    val f = fs(path)
    val marker = new Path(path, "_timeline/99.delta.inflight")
    val out = f.create(marker, false); out.close()
    val e1 = intercept[IllegalArgumentException](t.dropPartitions(Seq("a")))
    assert(e1.getMessage.contains("mid-publish"), e1.getMessage)
    assert(t.partitions() == Seq("a", "b"), "refused drop must delete nothing")
    val e2 = intercept[IllegalArgumentException](t.restore("pin"))
    assert(e2.getMessage.contains("mid-publish"), e2.getMessage)
    // writer publishes (marker gone) → both verbs proceed
    f.delete(marker, false)
    assert(t.dropPartitions(Seq("a")) == Seq("a"))
    t.restore("pin")
    // restore deletes partitions born after the pin — none here; "a" was
    // dropped (physically gone, drops bound restore like travel) and "b"
    // rolls to its pin
    assert(t.read(Seq("b")).count() == 1)
    // a CHILD-level fresh marker also blocks the parent restore
    t.savepoint("pin3")
    val cm = new Path(path, "p=b/timeline/500.delta.inflight")
    val o2 = f.create(cm, false); o2.close()
    val e3 = intercept[IllegalArgumentException](t.restore("pin3"))
    assert(e3.getMessage.contains("mid-publish"), e3.getMessage)
    f.delete(cm, false)
    t.restore("pin3")
  }

  test("withTableLock is reentrant per thread (destructive verbs under a caller's lock)") {
    val path = tmp()
    val t = MorTable(spark, path, Seq("k"), compactionDeltaCommits = 1000)
    t.upsert(Seq((1L, 10)).toDF("k", "v"), Nil, batchId = 1L)
    t.savepoint("pin")
    t.upsert(Seq((2L, 20)).toDF("k", "v"), Nil, batchId = 2L)
    // the documented pattern: the caller holds the lock around the
    // stop-the-world service, which now also acquires internally — must
    // not self-deadlock
    val rolled = MorTable.withTableLock(spark, path, waitMs = 2000L) {
      t.restore("pin")
    }
    assert(rolled > 0 && t.read().count() == 1)
  }

  test("stale-lease takeover is atomic: same-tick waiters never both enter") {
    // the delete-and-recreate takeover race: two waiters both observe an
    // expired lock in the same 50ms poll tick; with a bare fs.delete the
    // first deletes + recreates and the second's already-decided delete
    // then removes the first's FRESH lock — both enter the critical
    // section. The generation-keyed tombstone rename must make exactly
    // one waiter the taker, every round.
    val path = tmp()
    val fsys = fs(path)
    fsys.mkdirs(new Path(path))
    import java.util.concurrent.atomic.AtomicInteger
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val active = new AtomicInteger(0)
    val overlaps = new AtomicInteger(0)
    (1 to 6).foreach { round =>
      // a crashed holder: every round starts with an already-expired lock,
      // so EVERY waiter's first attempt goes down the takeover path at once
      val out = fsys.create(new Path(path, ".tablelock"), true)
      out.write(s"dead-$round|${System.currentTimeMillis() - 1000}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      val racers = (1 to 6).map { _ =>
        Future {
          MorTable.withTableLock(spark, path, waitMs = 60000L) {
            if (active.incrementAndGet() > 1) overlaps.incrementAndGet()
            Thread.sleep(20)
            active.decrementAndGet()
          }
        }
      }
      Await.result(Future.sequence(racers), 120.seconds)
    }
    assert(overlaps.get() == 0,
      s"${overlaps.get()} mutual-exclusion violations across takeover rounds")
    // the lock itself is released; the only litter is one tombstone per
    // CRASHED generation (the permanent block against stalled takers of
    // that generation) — within-lease releases cleaned theirs up
    val leftovers = fsys.listStatus(new Path(path)).map(_.getPath.getName)
      .filter(_.startsWith(".tablelock")).toSeq
    assert(!leftovers.contains(".tablelock"), "lock not released")
    assert(leftovers.forall(_.startsWith(".tablelock.taken.dead-")),
      s"unexpected lock litter: ${leftovers.mkString(", ")}")
  }

  test("stalled taker cannot displace a successor's fresh lock (round-9 TOCTOU)") {
    // The residual the claim-file design left open: taker T observes an
    // expired generation G, then stalls >= a lease between deciding to
    // take over and acting; meanwhile the takeover completes and a
    // successor H acquires a FRESH lock at the same path. T's wakeup must
    // not be able to remove/displace H's lock. With the rename design,
    // G's tombstone (created by whoever actually took G over) blocks T's
    // generation-keyed rename forever.
    val path = tmp()
    val fsys = fs(path)
    val dir = new Path(path)
    fsys.mkdirs(dir)
    val lock = new Path(dir, ".tablelock")
    val gTxt = s"gen-g|${System.currentTimeMillis() - 1000}" // expired holder G
    val o1 = fsys.create(lock, true)
    o1.write(gTxt.getBytes(java.nio.charset.StandardCharsets.UTF_8)); o1.close()
    // taker U completes the takeover of G (taker T has observed gTxt but
    // is stalled — its action is deferred below)
    assert(MorTable.takeoverStaleLock(fsys, dir, gTxt), "U's takeover must win")
    // successor H acquires a fresh, unexpired lock at the same path
    val hTxt = s"gen-h|${System.currentTimeMillis() + 600000}"
    val o2 = fsys.create(lock, false)
    o2.write(hTxt.getBytes(java.nio.charset.StandardCharsets.UTF_8)); o2.close()
    // T wakes up and fires its already-decided takeover of generation G:
    // the tombstone blocks the rename — H's lock is untouched
    assert(!MorTable.takeoverStaleLock(fsys, dir, gTxt),
      "a stalled taker of a departed generation must fail")
    val cur = new String(MorTable.readFully(fsys, lock),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(cur == hTxt, "successor's fresh lock must survive the stalled taker")
  }

  test("lease-overrunning holder: release never disturbs the successor, tombstone kept") {
    val path = tmp()
    val fsys = fs(path)
    val dir = new Path(path)
    fsys.mkdirs(dir)
    val lock = new Path(dir, ".tablelock")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // holder A overruns its 150ms lease inside the critical section
    val a = Future {
      MorTable.withTableLock(spark, path, leaseMs = 150L, waitMs = 10000L) {
        Thread.sleep(1500)
      }
    }
    Thread.sleep(400) // A's lease has expired; A is still inside
    MorTable.withTableLock(spark, path, leaseMs = 600000L, waitMs = 10000L) {
      // we took over A's expired generation; hold through A's release
      Await.result(a, 30.seconds)
      // A's overrun release must NOT have removed OUR lock
      assert(fsys.exists(lock), "successor's lock removed by an overrun release")
    }
    // A's expired generation left its permanent tombstone; our own
    // within-lease release cleaned ours up and freed the lock path
    val names = fsys.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith(".tablelock")).toSeq
    assert(!names.contains(".tablelock"), "lock not released")
    assert(names.count(_.startsWith(".tablelock.taken.")) == 1,
      s"expected exactly A's generation tombstone, got: ${names.mkString(", ")}")
    // and the path is re-acquirable normally
    MorTable.withTableLock(spark, path, waitMs = 2000L) { () }
  }

  test("inflight marker heartbeat keeps a slow write fresh for the orphan check") {
    val path = tmp()
    val t = new MorTable(spark, path, Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false)
    t.upsert(Seq((1L, 10)).toDF("k", "v"), Nil, batchId = 1L)
    val f = fs(path)
    val marker = new Path(path, "timeline/777.delta.inflight")
    val out = f.create(marker, false); out.close()
    // simulate a claim made long ago (a slow write in progress)
    f.setTimes(marker, System.currentTimeMillis() - 600000L, -1)
    val before = f.getFileStatus(marker).getModificationTime
    t.commitLog.renewing(777L, "delta", periodMs = 50L) { Thread.sleep(300) }
    val after = f.getFileStatus(marker).getModificationTime
    assert(after > before, "heartbeat must renew the marker mtime during the write")
    assert(System.currentTimeMillis() - after < 60000L,
      "renewed marker must read as fresh to the destructive verbs")
    f.delete(marker, false)
    ()
  }
}
