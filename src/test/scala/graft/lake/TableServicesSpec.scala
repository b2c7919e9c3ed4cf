package graft.lake

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Async table services: compaction/clean run on a background thread while
  * a foreground writer keeps committing — the Hudi async-compaction shape.
  * Safety under concurrency is the TABLE's contract (OCC + unfolded
  * protocol, pinned by MultiWriterSpec); these cases pin the service's own
  * behavior: deterministic cycles, background cadence against a live
  * writer, clean scheduling, and the keep-going failure policy. */
class TableServicesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(lo: Int, hi: Int) =
    (lo until hi).map(i => (s"k$i", i)).toDF("k", "v")

  test("runOnce: compacts exactly when due, publishes the manifest") {
    val t = new MorTable(spark, TestSpark.tmpDir("svc-once"), Seq("k"),
      compactionDeltaCommits = 2, autoCompact = false)
    val svc = TableServices(t)
    assert(!svc.runOnce(), "nothing committed yet — not due")
    t.upsert(rows(0, 10), Seq(col("v")), batchId = 1L)
    assert(!svc.runOnce(), "one delta below the num trigger")
    t.upsert(rows(5, 15), Seq(col("v")), batchId = 2L)
    assert(svc.runOnce(), "two deltas at threshold 2 — due")
    assert(svc.compactionsRun == 1 && svc.lastError.isEmpty)
    val c = t.timeline().filter(_.kind == "compact")
    assert(c.size == 1)
    assert(t.read().count() == 15)
  }

  test("background service compacts while a foreground writer keeps committing") {
    val path = TestSpark.tmpDir("svc-bg")
    val t = new MorTable(spark, path, Seq("k"),
      compactionDeltaCommits = 2, autoCompact = false)
    val ref = new MorTable(spark, path + "-ref", Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false)
    val svc = TableServices(t, periodMs = 100L).start()
    try {
      for (b <- 0 until 5) {
        val batch = rows(b * 8, b * 8 + 12) // overlapping keys across batches
        t.upsert(batch, Seq(col("v")), batchId = b.toLong)
        ref.upsert(batch, Seq(col("v")), batchId = b.toLong)
      }
      // wait for at least one async compaction (5 deltas at threshold 2)
      val deadline = System.currentTimeMillis() + 30000
      while (svc.compactionsRun == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(svc.compactionsRun >= 1,
        s"service never compacted (lastError=${svc.lastError})")
      assert(svc.lastError.isEmpty)
    } finally svc.close()
    // the asynchronously-compacted table answers exactly like the
    // never-compacted reference
    val a = t.read().orderBy("k").collect().map(_.toSeq).toSeq
    val b = ref.read().orderBy("k").collect().map(_.toSeq).toSeq
    assert(a == b)
    assert(t.timeline().exists(_.kind == "compact"))
  }

  test("cleanEvery: old deltas are physically removed after the Nth compaction") {
    val t = new MorTable(spark, TestSpark.tmpDir("svc-clean"), Seq("k"),
      compactionDeltaCommits = 2, autoCompact = false)
    val svc = TableServices(t, cleanEvery = 1)
    t.upsert(rows(0, 10), Seq(col("v")), batchId = 1L)
    t.upsert(rows(0, 10).withColumn("v", col("v") + 100), Seq(col("v")), batchId = 2L)
    assert(svc.runOnce())
    // clean ran with the compaction: pre-compaction delta dirs are gone
    val fs = new org.apache.hadoop.fs.Path(t.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deltaDirs = fs.listStatus(new org.apache.hadoop.fs.Path(t.path, "delta"))
      .map(_.getPath.getName).toSeq
    assert(deltaDirs.isEmpty, s"expected cleaned delta dirs, found $deltaDirs")
    assert(t.read().count() == 10)
    assert(t.read().agg(min(col("v"))).head().getInt(0) == 100)
  }

  test("partitioned service: due children compact in one tick") {
    val p = new PartitionedMorTable(spark, TestSpark.tmpDir("svc-part"),
      keyCols = Seq("k"), partCol = "p", compactionDeltaCommits = 2,
      autoCompact = false)
    def batch(tag: Int) = (0 until 20)
      .map(i => (s"k$i", i + tag, if (i % 2 == 0) "even" else "odd"))
      .toDF("k", "v", "p")
    p.upsert(batch(0), Seq(col("v")), batchId = 1L)
    p.upsert(batch(100), Seq(col("v")), batchId = 2L)
    val svc = TableServices(p, periodMs = 60000L, cleanEvery = 0)
    assert(svc.runOnce(), "both children at threshold — due")
    assert(p.read().count() == 20)
    assert(p.read().agg(min(col("v"))).head().getInt(0) == 100)
    assert(!svc.runOnce(), "freshly compacted — nothing due")
  }

  test("partitioned delete-only stream compacts at the count trigger") {
    val p = new PartitionedMorTable(spark, TestSpark.tmpDir("svc-part-delete"),
      keyCols = Seq("k"), partCol = "p", compactionDeltaCommits = 2)
    p.upsert((0 until 20).map(i => (s"k$i", i, if (i % 2 == 0) "even" else "odd"))
      .toDF("k", "v", "p"), Seq(col("v")), batchId = 1L)
    def compacted = Seq("even", "odd").filter(v =>
      p.child(v).timeline().exists(_.kind == "compact"))
    assert(compacted.isEmpty, "one delta per child is below the trigger")
    p.delete(Seq(("k0", "even"), ("k1", "odd")).toDF("k", "p"), batchId = 2L)
    assert(compacted == Seq("even", "odd"), "the delete's delta reaches the trigger")
    assert(p.read().count() == 18)
  }

  test("policy-driven async clustering: live writer + background z-order == direct filter") {
    // the s40 shape as a SERVICE: the policy declares z-order columns and
    // a cluster-every-2nd-compaction cadence; a foreground writer keeps
    // upserting while deterministic service ticks compact — every 2nd
    // compacting tick re-clusters on (v, w). The multi-column range read
    // must stay exact AND actually prune files.
    val path = TestSpark.tmpDir("svc-zorder")
    val declared = MorTable.Policy(deltaCommits = 2, zorderCols = Seq("v", "w"),
      clusterEvery = 2, cleanEvery = 0, savepointTTLSeconds = 3600L)
    val t = new MorTable(spark, path, Seq("k"), compactionDeltaCommits = 2,
      autoCompact = false, writePartitions = 4)
    MorTable.writePolicy(spark, path, declared)
    assert(MorTable.readPolicy(spark, path).contains(declared),
      "clustering policy must round-trip through manifest/policy.json")
    val svc = TableServices.fromPolicy(spark, t)
    def wrows(lo: Int, hi: Int) =
      (lo until hi).map(i => (s"k$i%04d".format(i), i % 97, (i * 7) % 89, i))
        .toDF("k", "v", "w", "ord")
    var batch = 1L
    for (i <- 0 until 6) {
      t.upsert(wrows(i * 100, i * 100 + 150), Seq(col("ord")), batchId = batch)
      batch += 1
      svc.runOnce()
    }
    assert(svc.compactionsRun >= 2, "cadence must have compacted more than once")
    // at least one compaction was a z-order one: the newest manifest
    // carries per-file (v, w) colstats
    val box = t.readForColRanges(Seq(("v", 10.0, 40.0), ("w", 5.0, 60.0)))
    val direct = t.read().filter(col("v") >= 10 && col("v") < 40 &&
      col("w") >= 5 && col("w") < 60)
    assert(box.orderBy("k").collect().toSeq == direct.orderBy("k").collect().toSeq,
      "service clustering changed the layout, never the answer")
    assert(box.count() > 0)
    // savepoint TTL: a pre-aged pin releases on the next tick
    t.savepoint("old_pin")
    val f = new java.io.File(s"$path/savepoint/old_pin.json")
    assert(f.setLastModified(System.currentTimeMillis() - 7200 * 1000L))
    svc.runOnce()
    assert(!t.savepoints().contains("old_pin"),
      "savepoint past the declared TTL must auto-release")
  }

  test("partitioned policy clustering: due children re-cluster, answers exact") {
    val path = TestSpark.tmpDir("svc-pzorder")
    val t = new PartitionedMorTable(spark, path, Seq("k"), "p",
      compactionDeltaCommits = 2, autoCompact = false, writePartitions = 4)
    val svc = TableServices(t, 60000L, cleanEvery = 0,
      zorderCols = Seq("v", "w"), clusterEvery = 1, savepointTtlMs = 0L)
    def wrows(lo: Int, hi: Int, p: String) =
      (lo until hi).map(i => (s"k$i%04d".format(i), p, i % 97, (i * 7) % 89))
        .toDF("k", "p", "v", "w")
    t.upsert(wrows(0, 200, "a").unionByName(wrows(0, 100, "b")),
      Seq(col("v")), batchId = 1L)
    t.upsert(wrows(100, 300, "a"), Seq(col("v")), batchId = 2L)
    // child a has 2 commits (due) — the cluster tick re-clusters it;
    // child b has 1 (not due) — untouched
    assert(svc.runOnce(), "due child must cluster")
    assert(t.child("a").timeline().exists(_.kind == "compact"))
    assert(!t.child("b").timeline().exists(_.kind == "compact"))
    val got = t.read().collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = ((0 until 300).map(i => (s"k$i%04d".format(i), "a")) ++
      (0 until 100).map(i => (s"k$i%04d".format(i), "b"))).toSet
    assert(got == want, "clustered child keeps exact LWW content")
  }

  test("failure policy: a throwing cycle records the error and the service continues") {
    var calls = 0
    val svc = TableServices.custom(() => {
      calls += 1
      if (calls == 1) throw new IllegalStateException("transient FS glitch")
      true
    })
    assert(!svc.runOnce())
    assert(svc.lastError.exists(_.getMessage.contains("transient")))
    assert(svc.runOnce(), "next cycle runs despite the earlier failure")
    assert(svc.lastError.isEmpty, "success clears the recorded error")
    assert(svc.compactionsRun == 1)
  }
  test("materialized-view service: stale views refresh each tick, fresh ticks no-op") {
    val basePath = TestSpark.tmpDir("svc-mv-base")
    val viewPath = TestSpark.tmpDir("svc-mv-view")
    val t = new MorTable(spark, basePath, Seq("k"),
      compactionDeltaCommits = 100, autoCompact = false)
    t.upsert(Seq(("k1", "a", 1L), ("k2", "b", 2L)).toDF("k", "g", "v"),
      Seq(col("v")), batchId = 1L)
    MatViews.build(spark, basePath, Seq("k"), None,
      MatViews.ViewSpec("svc_mv", viewPath, Seq("g"),
        Seq(MatViews.MeasureSpec("count", ""), MatViews.MeasureSpec("sum", "v")), 0L))
    val svc = TableServices.matViews(spark, t, periodMs = 60000L)
    // fresh: a tick is a no-op
    assert(!svc.runOnce(), "fresh views must not refresh")
    // two commits land → one tick brings the view to the live seq
    t.upsert(Seq(("k3", "a", 10L)).toDF("k", "g", "v"), Seq(col("v")), batchId = 2L)
    t.upsert(Seq(("k4", "b", 20L)).toDF("k", "g", "v"), Seq(col("v")), batchId = 3L)
    assert(svc.runOnce(), "stale view must refresh")
    assert(svc.lastError.isEmpty)
    val spec = MatViews.readSpecs(spark, basePath).head
    assert(spec.maintainedSeq == t.timeline().last.seq)
    val vt = MorTable.resolve(spark, viewPath, Seq("g"))
    assert(vt.read().collect().map(r => (r.getAs[String]("g"),
      r.getAs[Long]("n"), r.getAs[Long]("sum_v"))).toSet ==
      Set(("a", 2L, 11L), ("b", 2L, 22L)))
    // converged: the next tick is a no-op again
    assert(!svc.runOnce())
  }

  test("materialized-view refresh completes a half-done refresh of the two-commit form") {
    // an older refresh wrote the refreshed groups at batch 2*to and the
    // dead groups at 2*to+1; a crash between the two left the upsert
    // committed, the delete not, and the watermark unmoved
    val basePath = TestSpark.tmpDir("mv-orphan-base")
    val viewPath = TestSpark.tmpDir("mv-orphan-view")
    val t = new MorTable(spark, basePath, Seq("k"),
      compactionDeltaCommits = 100, autoCompact = false)
    t.upsert(Seq(("k1", "a", 1L), ("k2", "b", 2L)).toDF("k", "g", "v"), Nil, batchId = 1L)
    val spec = MatViews.build(spark, basePath, Seq("k"), None,
      MatViews.ViewSpec("orphan_mv", viewPath, Seq("g"),
        Seq(MatViews.MeasureSpec("count", ""), MatViews.MeasureSpec("sum", "v")), 0L))
    t.upsert(Seq(("k3", "a", 10L)).toDF("k", "g", "v"), Nil, batchId = 2L)
    t.delete(Seq("k2").toDF("k"), batchId = 3L) // group b dies
    val to = t.timeline().last.seq
    val vt = MorTable.resolve(spark, viewPath, Seq("g"))
    vt.upsert(vt.read().filter(col("g") === "a")
      .withColumn("n", lit(2L)).withColumn("sum_v", lit(11L)), Nil, batchId = 2L * to)
    val done = MatViews.refresh(spark, basePath, Seq("k"), None, spec)
    assert(done.maintainedSeq == to)
    assert(vt.read().collect().map(r => (r.getAs[String]("g"),
      r.getAs[Long]("n"), r.getAs[Long]("sum_v"))).toSet == Set(("a", 2L, 11L)),
      "the dead group must leave the view")
    // a re-run at the same watermark is a no-op
    assert(MatViews.refresh(spark, basePath, Seq("k"), None, done) == done)
  }

}
