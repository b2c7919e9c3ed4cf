package graft.lake

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class PartitionedMorTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = graft.TempDirs.create("pmor")

  test("parent inflight marker heartbeat keeps a slow staged write fresh to restore/drop") {
    // the partitioned twin of MultiWriterSpec's heartbeat case: a staged
    // cluster write running longer than the 60 s orphan lease under a
    // claimed parent token must stay classified as mid-publish — the
    // destructive verbs (restore/dropPartitions) must keep REFUSING while
    // the writer is provably alive, even though the claim itself is old.
    val path = tmp()
    val t = new PartitionedMorTable(spark, path, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    t.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"),
      Nil, batchId = 1L)
    t.savepoint("pin")
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path, "_timeline/777.delta.inflight")
    val out = f.create(marker, false); out.close()
    // simulate a claim made long ago (slow staged write in progress)
    f.setTimes(marker, System.currentTimeMillis() - 600000L, -1)
    val before = f.getFileStatus(marker).getModificationTime
    t.parentLog.renewing(777L, "delta", periodMs = 50L) {
      Thread.sleep(300)
      // mid-write: the heartbeat has renewed the aged claim, so both
      // destructive verbs must see a FRESH marker and refuse loudly
      val e1 = intercept[IllegalArgumentException](t.dropPartitions(Seq("a")))
      assert(e1.getMessage.contains("mid-publish"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](t.restore("pin"))
      assert(e2.getMessage.contains("mid-publish"), e2.getMessage)
    }
    val after = f.getFileStatus(marker).getModificationTime
    assert(after > before, "heartbeat must renew the parent marker mtime")
    // writer "publishes" (marker released) → the verbs proceed again
    f.delete(marker, false)
    assert(t.dropPartitions(Seq("a")) == Seq("a"))
  }

  test("partitioned column NDV: cross-child HLL register merge, not estimate addition") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    // children overlap on v (a: 0..499, b: 250..749): the true union NDV
    // is 750 — per-child estimates (500 each) can neither be added (1000)
    // nor taken alone (500); only the register slot-max merge lands on it
    val rows = (0 until 500).map(i => (i.toLong, "a", i)) ++
      (0 until 500).map(i => ((i + 1000).toLong, "b", i + 250))
    t.upsert(rows.toDF("k", "p", "v"), Nil, batchId = 1L)
    t.child("a").compactZOrder(Seq("v"))
    t.child("b").compactZOrder(Seq("v"))
    val ndv = t.colNdv()
    assert(ndv.contains("v"), s"expected v NDV, got $ndv")
    assert(math.abs(ndv("v") - 750L) <= 40L,
      s"register union must estimate ~750 (±2 sigma), got ${ndv("v")}")
    assert(t.colBounds()("v") == ((0.0, 749.0)),
      s"bounds must fold across children, got ${t.colBounds()}")
    // second call hits the cache (same contributing stats dirs)
    assert(t.colNdv() eq t.colNdv())
  }

  test("compactPartitions: a failing child stops its siblings before the call returns") {
    val path = tmp()
    val t = new PartitionedMorTable(spark, path, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    val parts = (0 until 12).map(i => f"v$i%02d")
    t.upsert(parts.flatMap(v => (0 until 3).map(j => (s"$v-$j", v, j)))
      .toDF("k", "p", "n"), Seq(col("n")), batchId = 1L)
    // every child but two fails its base adoption: a plain file squats on
    // its base dir. One adoption thread runs the children in order, so
    // whatever comes after the first failure is still queued then.
    val good = Set(parts(3), parts(8))
    parts.filterNot(good).foreach(v =>
      assert(new java.io.File(s"$path/p=$v/base").createNewFile()))
    spark.conf.set("spark.graft.maintenance.parallelism", "1")
    try {
      intercept[Exception](t.compactPartitions(parts))
      def instants() = parts.map(v => t.child(v).timeline().size)
      val atReturn = instants()
      Thread.sleep(3000)
      assert(instants() == atReturn,
        "a child committed after compactPartitions had already failed")
    } finally spark.conf.unset("spark.graft.maintenance.parallelism")
  }

  // One child fails fast while its siblings are still committing: every
  // child's on-disk state must be final when the call returns.
  private def failingChildLeavesNoLateCommit(failing: String, parts: Seq[String],
                                             state: String => Int)(call: => Any): Unit = {
    intercept[Exception](call)
    val atReturn = parts.map(state)
    Thread.sleep(3000)
    assert(parts.map(state) == atReturn,
      s"a sibling of failing child $failing committed after the call had failed")
  }

  test("addColumns: a failing child stops its siblings before the call returns") {
    val path = tmp()
    val t = new PartitionedMorTable(spark, path, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    val parts = (0 until 12).map(i => f"v$i%02d")
    t.upsert(parts.flatMap(v => (0 until 3).map(j => (s"$v-$j", v, j)))
      .toDF("k", "p", "n"), Seq(col("n")), batchId = 1L)
    val x = org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.IntegerType)
    // the first child already has the column, so it refuses at once
    t.child(parts.head).addColumns(Seq(x))
    failingChildLeavesNoLateCommit(parts.head, parts,
      v => t.child(v).timeline().size)(t.addColumns(Seq(x)))
  }

  test("buildRecordIndex: a failing child stops its siblings before the call returns") {
    val path = tmp()
    val t = new PartitionedMorTable(spark, path, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    val parts = (0 until 12).map(i => f"v$i%02d")
    t.upsert(parts.flatMap(v => (0 until 3).map(j => (s"$v-$j", v, j)))
      .toDF("k", "p", "n"), Seq(col("n")), batchId = 1L)
    // the first child has no compacted base, so it refuses at once
    t.compactPartitions(parts.tail)
    def indexes(v: String): Int =
      Option(new java.io.File(s"$path/p=$v/manifest/rli").list()).map(_.length).getOrElse(0)
    failingChildLeavesNoLateCommit(parts.head, parts, indexes)(t.buildRecordIndex())
  }

  test("per-partition compaction: only touched partitions compact") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 2, autoCompact = false)
    t.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    t.upsert(Seq((1L, "a", 11)).toDF("k", "p", "v"), Seq(col("k")), batchId = 2L)
    // a has 2 delta commits (due), b has 1 (not due)
    val compacted = t.maybeCompact()
    assert(compacted == Seq("a"))
    assert(t.child("a").timeline().exists(_.kind == "compact"))
    assert(!t.child("b").timeline().exists(_.kind == "compact"))
    // snapshot reflects LWW across partitions
    val rows = t.read().orderBy("p", "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1L, "a", 11), (2L, "b", 20)))
  }

  test("partitioned minor compaction: untouched base files carry per child") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 8)
    // enough keys that the range-partitioned batched write yields several
    // files per child with disjoint key ranges
    val rows = (1 to 400).map(i => (f"k$i%04d", if (i % 2 == 0) "A" else "B", i))
      .toDF("k", "p", "v")
    t.upsert(rows, Seq(col("k")), batchId = 1L)
    t.compactPartitions(Seq("A", "B"))
    val filesA0 = new java.io.File(s"${t.path}/p=A/base/${t.child("A").timeline().last.seq}")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesA0 >= 2, s"need multiple base files per child for the carry test, got $filesA0")
    // delta touches only LOW keys of partition A; B untouched entirely
    t.upsert(Seq(("k0002", "A", 9999)).toDF("k", "p", "v"), Seq(col("k")), batchId = 2L)
    t.compactPartitions(Seq("A"))
    val baseA = new java.io.File(s"${t.path}/p=A/base/${t.child("A").timeline().last.seq}")
    val carried = baseA.listFiles().count(_.getName.startsWith("carry-"))
    assert(carried >= 1, s"expected carried files in the minor-compacted child, got $carried")
    // correctness: LWW with the update applied, everything else untouched
    val got = t.read().collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Int]("v"))).toMap
    assert(got.size == 400)
    assert(got("k0002") == 9999, "minor-compacted update applied")
    assert(got("k0004") == 4 && got("k0001") == 1, "carried rows untouched")
  }

  test("readForKeys: cross-partition point read prunes base files via child blooms") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 8)
    val rows = (1 to 400).map(i => (f"k$i%04d", if (i % 2 == 0) "A" else "B", i))
      .toDF("k", "p", "v")
    t.upsert(rows, Seq(col("k")), batchId = 1L)
    t.compactPartitions(Seq("A", "B")) // per-child manifests carry blooms
    def baseFileCount(v: String) =
      new java.io.File(s"${t.path}/p=$v/base/${t.child(v).timeline().last.seq}")
        .listFiles().count(_.getName.endsWith(".parquet"))
    val totalBase = baseFileCount("A") + baseFileCount("B")
    assert(totalBase >= 4, s"need several base files across children, got $totalBase")
    // a live delta on top (update one key, insert a brand-new one)
    t.upsert(Seq(("k0002", "A", 9999), ("zzzz", "B", -1)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 2L)
    // single-key probe: one multi-path scan, most base files bloom-dropped
    val one = t.readForKeys(Seq("k0123"))
    assert(one.inputFiles.count(_.contains("/base/")) < totalBase,
      "bloom pruning should drop base files across children")
    assert(one.collect().map(r =>
      (r.getAs[String]("k"), r.getAs[String]("p"), r.getAs[Int]("v"))).toSeq ==
      Seq(("k0123", "B", 123)))
    // delta rows win LWW over pruned bases; delta-only keys still answer
    val got = t.readForKeys(Seq("k0002", "zzzz", "nope")).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Int]("v"))).toMap
    assert(got == Map("k0002" -> 9999, "zzzz" -> -1))
    // partition-pruned probe: only the named child is consulted
    val pruned = t.readForKeys(Seq("k0123", "k0124"), values = Seq("A"))
    assert(pruned.collect().map(_.getAs[String]("k")).toSeq == Seq("k0124"),
      "k0123 lives in partition B — excluded by the partition selector")
    assert(pruned.inputFiles.forall(_.contains("p=A")))
    // equality with the filtered full read for a spread key set
    val keys = Seq("k0001", "k0123", "k0200", "k0399", "k0002", "zzzz")
    val full = t.read().filter(col("k").isin(keys: _*))
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(t.readForKeys(keys).orderBy("k").collect().map(_.toSeq).toSeq == full)
  }

  test("readForKeysIndexed: cross-child record index pins exact base files") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 8)
    val rows = (1 to 400).map(i => (f"k$i%04d", if (i % 2 == 0) "A" else "B", i))
      .toDF("k", "p", "v")
    t.upsert(rows, Seq(col("k")), batchId = 1L)
    t.compactPartitions(Seq("A", "B"))
    t.buildRecordIndex()
    assert(Seq("A", "B").forall(v => t.child(v).hasRecordIndex()))
    def baseFileCount(v: String) =
      new java.io.File(s"${t.path}/p=$v/base/${t.child(v).timeline().last.seq}")
        .listFiles().count(_.getName.endsWith(".parquet"))
    val totalBase = baseFileCount("A") + baseFileCount("B")
    // a live delta on top (update one key, insert a brand-new one)
    t.upsert(Seq(("k0002", "A", 9999), ("zzzz", "B", -1)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 2L)
    // cross-child probe: each key pins exactly one base file in its child
    val two = t.readForKeysIndexed(Seq("k0123", "k0124"))
    assert(two.inputFiles.count(_.contains("/base/")) == 2,
      "one pinned base file per probed key across children")
    assert(two.collect().map(r =>
      (r.getAs[String]("k"), r.getAs[String]("p"), r.getAs[Int]("v"))).sorted.toSeq ==
      Seq(("k0123", "B", 123), ("k0124", "A", 124)))
    // delta rows win LWW over pinned bases; delta-only keys still answer
    val got = t.readForKeysIndexed(Seq("k0002", "zzzz", "nope")).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Int]("v"))).toMap
    assert(got == Map("k0002" -> 9999, "zzzz" -> -1))
    // partition selector composes
    val pruned = t.readForKeysIndexed(Seq("k0123", "k0124"), values = Seq("A"))
    assert(pruned.collect().map(_.getAs[String]("k")).toSeq == Seq("k0124"))
    assert(pruned.inputFiles.forall(_.contains("p=A")))
    // a LATE-BORN child without an index falls back per child, exactly
    t.upsert(Seq(("newc", "C", 7)).toDF("k", "p", "v"), Seq(col("k")), batchId = 3L)
    val mixed = t.readForKeysIndexed(Seq("k0123", "newc"))
    assert(mixed.collect().map(r =>
      (r.getAs[String]("k"), r.getAs[Int]("v"))).toMap ==
      Map("k0123" -> 123, "newc" -> 7))
    // equality with the filtered full read for a spread key set
    val keys = Seq("k0001", "k0123", "k0200", "k0399", "k0002", "zzzz", "newc")
    val full = t.read().filter(col("k").isin(keys: _*))
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(t.readForKeysIndexed(keys).orderBy("k").collect().map(_.toSeq).toSeq == full)
    // per-child compaction refresh: indexed children stay fresh, the
    // never-indexed child keeps falling back (opt-in is per child)
    t.compactPartitions(Seq("A", "B", "C"))
    assert(Seq("A", "B").forall(v => t.child(v).hasRecordIndex()),
      "existing indexes must refresh through the batched compaction")
    assert(!t.child("C").hasRecordIndex())
    val after = t.readForKeysIndexed(keys)
    assert(after.orderBy("k").collect().map(_.toSeq).toSeq ==
      t.read().filter(col("k").isin(keys: _*)).orderBy("k").collect().map(_.toSeq).toSeq)
  }

  test("readForColEquals: secondary blooms prune base files across children") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 8)
      .indexColumns(Seq("v"))
    val rows = (1 to 400).map(i => (f"k$i%04d", if (i % 2 == 0) "A" else "B", i))
      .toDF("k", "p", "v")
    t.upsert(rows, Seq(col("k")), batchId = 1L)
    t.compactPartitions(Seq("A", "B")) // per-child manifests carry v-blooms
    def baseFileCount(v: String) =
      new java.io.File(s"${t.path}/p=$v/base/${t.child(v).timeline().last.seq}")
        .listFiles().count(_.getName.endsWith(".parquet"))
    val totalBase = baseFileCount("A") + baseFileCount("B")
    assert(totalBase >= 8, s"need several base files across children, got $totalBase")
    // a live delta: k0050's v moves OUT of any probe; a delta-only probe hit
    t.upsert(Seq(("k0050", "A", 7777), ("newk", "B", 123)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 2L)
    // single-value probe: most base files of BOTH children bloom-dropped
    val one = t.readForColEquals("v", Seq(123))
    assert(one.inputFiles.count(_.contains("/base/")) < totalBase,
      "secondary blooms should drop base files across children")
    assert(one.orderBy("k").collect().map(r =>
      (r.getAs[String]("k"), r.getAs[Int]("v"))).toSeq ==
      Seq("k0123" -> 123, "newk" -> 123))
    // moved-out value never resurrects; the new value answers
    assert(t.readForColEquals("v", Seq(50)).isEmpty)
    assert(t.readForColEquals("v", Seq(7777))
      .select("k").collect().map(_.getString(0)).toSeq == Seq("k0050"))
    // partition selector composes
    val pruned = t.readForColEquals("v", Seq(123, 124), Seq("A"))
    assert(pruned.collect().map(_.getAs[String]("k")).toSeq == Seq("k0124"),
      "123 and newk live in partition B — excluded by the selector")
    assert(pruned.inputFiles.forall(_.contains("p=A")))
    // equality with the filtered full read
    val vals = Seq(1, 123, 250, 399, 7777)
    val full = t.read().filter(col("v").isin(vals: _*))
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(t.readForColEquals("v", vals).orderBy("k").collect().map(_.toSeq).toSeq
      == full)
  }

  test("partition-pruned read opens only named children") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p")
    t.upsert(Seq((1L, "x", 1), (2L, "y", 2), (3L, "z", 3)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    val pruned = t.read(Seq("y"))
    assert(pruned.collect().map(_.getString(1)).toSeq == Seq("y"))
    // the pruned plan scans exactly one child directory
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scanned.contains("p=y") && !scanned.contains("p=x"))
  }

  test("replayed batchId is a per-partition no-op") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p")
    t.upsert(Seq((1L, "a", 1)).toDF("k", "p", "v"), Seq(col("k")), batchId = 7L)
    t.upsert(Seq((1L, "a", 999)).toDF("k", "p", "v"), Seq(col("k")), batchId = 7L)
    assert(t.read().head().getInt(2) == 1)
    assert(t.child("a").timeline().count(_.kind == "delta") == 1)
  }

  test("multi-partition delete runs ONE staged write, not a job per partition") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p", autoCompact = false)
    t.upsert(Seq((1L, "a", 1), (2L, "b", 2), (3L, "c", 3), (4L, "a", 4)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    spark.sparkContext.setJobGroup("pmor-del-count", "delete", interruptOnCancel = false)
    try t.delete(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "p"), batchId = 2L)
    finally spark.sparkContext.clearJobGroup()
    // status store is listener-fed (async) — poll briefly
    def jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("pmor-del-count").length
    val deadline = System.currentTimeMillis() + 5000
    while (jobs < 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(jobs >= 1 && jobs <= 2, s"expected one staged write job, saw $jobs")
    // every touched child adopted the same table-global commit token
    val rows = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((4L, "a")))
    Seq("a", "b", "c").foreach { v =>
      assert(t.child(v).timeline().count(_.kind == "delta") == 2, s"partition $v")
    }
  }

  test("predicate row-level ops stay one staged job; partition moves refused") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 100, autoCompact = false)
    t.upsert(Seq((1L, "a", 10), (2L, "a", 20), (3L, "b", 30)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    t.updateWhere(col("v") >= 20, Map("v" -> (col("v") + 1)), batchId = 2L)
    assert(t.read().collect().map(r => r.getLong(0) -> r.getInt(2)).toMap ==
      Map(1L -> 10, 2L -> 21, 3L -> 31))
    t.deleteWhere(col("v") === 21, batchId = 3L)
    assert(t.read().collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    intercept[IllegalArgumentException] {
      t.updateWhere(col("v") > 0, Map("p" -> org.apache.spark.sql.functions.lit("c")))
    }
  }

  test("readChangelog: token-space I/U/D with before images across partitions") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 100, autoCompact = false)
    t.upsert(Seq((1L, "a", 10), (2L, "b", 20), (3L, "b", 30)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)                       // token 1
    t.upsert(Seq((1L, "a", 11), (4L, "a", 40)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 2L)                       // token 2: U + I
    t.delete(Seq((3L, "b")).toDF("k", "p"), batchId = 3L) // token 3: D
    val rows = t.readChangelog(1L).collect()
      .map(r => r.getAs[Long]("k") -> r).toMap
    assert(rows.keySet == Set(1L, 4L, 3L))
    assert(rows(1L).getAs[String]("op") == "U" &&
      rows(1L).getAs[Int]("v") == 11 && rows(1L).getAs[Int]("before_v") == 10)
    assert(rows(4L).getAs[String]("op") == "I" &&
      rows(4L).getAs[Any]("before_v") == null)
    assert(rows(3L).getAs[String]("op") == "D" &&
      rows(3L).getAs[Int]("before_v") == 30 &&
      rows(3L).getAs[String]("before_p") == "b")
    // pruned to partition b: only the delete is visible
    val bOnly = t.readChangelog(1L, values = Seq("b")).collect()
    assert(bOnly.map(_.getAs[String]("op")).toSeq == Seq("D"))
  }

  test("read plans are O(1) in partition count: one scan over 200 partitions") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    val n = 200
    val df = spark.range(n).select(col("id").as("k"),
      concat(lit("part"), col("id")).as("p"), lit(1).as("v"))
    t.upsert(df.repartition(col("p")), Seq(col("k")), batchId = 1L)
    // second commit on a quarter of the partitions so the LWW merge is live
    t.upsert(df.filter(col("k") % 4 === 0).withColumn("v", lit(2))
      .repartition(col("p")), Seq(col("k")), batchId = 2L)

    def distinctLeafRelations(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.optimizedPlan.collectLeaves().map {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
        case other => other
      }.distinct.size

    val snap = t.read()
    assert(distinctLeafRelations(snap) == 1,
      "snapshot read must be ONE multi-dir scan, not a per-partition union")
    assert(snap.count() == n)
    assert(snap.filter(col("k") % 4 === 0).agg(min("v"), max("v")).head() ==
      org.apache.spark.sql.Row(2, 2))

    val inc = t.readIncremental(sinceToken = 1L)
    assert(distinctLeafRelations(inc) == 1)
    assert(inc.count() == n / 4)

    val cdc = t.readChangelog(1L)
    assert(distinctLeafRelations(cdc) == 1,
      "changelog net/before sides must share one multi-dir scan")
    assert(cdc.collect().forall(_.getAs[String]("op") == "U"))
  }

  test("applyChangelog: per-partition keys never collapse; a partition move tombstones the old copy") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    // keys unique only WITHIN a partition: same envelope key, two partitions
    val e1 = spark.sql(
      """SELECT 'I' op, '1' key, CAST(NULL AS STRUCT<k BIGINT, p STRING, v INT>) before,
        |       named_struct('k', 1L, 'p', 'a', 'v', 10) after, 1L seq
        |UNION ALL
        |SELECT 'I', '1', NULL, named_struct('k', 1L, 'p', 'b', 'v', 20), 2L""".stripMargin)
    t.applyChangelog(e1, batchId = 1L)
    assert(t.read().collect().map(r => (r.getString(1), r.getInt(2))).sorted.toSeq ==
      Seq(("a", 10), ("b", 20)), "same key in two partitions must not collapse")
    // U moves key 1 from partition a to partition c: old copy must retire
    val e2 = spark.sql(
      """SELECT 'U' op, '1' key, named_struct('k', 1L, 'p', 'a', 'v', 10) before,
        |       named_struct('k', 1L, 'p', 'c', 'v', 11) after, 3L seq""".stripMargin)
    t.applyChangelog(e2, batchId = 2L)
    val rows = t.read().collect().map(r => (r.getString(1), r.getInt(2))).sorted.toSeq
    assert(rows == Seq(("b", 20), ("c", 11)),
      s"partition move must tombstone the before-partition copy, got $rows")
  }

  test("parent timeline archival bounds the listing; replay detection survives") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    (1 to 5).foreach { i =>
      t.upsert(Seq((i.toLong, "a", i)).toDF("k", "p", "v"), Seq(col("k")), batchId = i.toLong)
    }
    assert(t.cleanParentTimeline(keepLast = 2) == 3)
    assert(t.parentTimeline().size == 2, "listing bounded to the kept tail")
    // a fresh handle still detects archived batch ids (exactly-once survives)
    val t2 = new PartitionedMorTable(spark, t.path, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    assert(t2.isCommitted(1L) && t2.isCommitted(5L))
    t2.upsert(Seq((1L, "a", 999)).toDF("k", "p", "v"), Seq(col("k")), batchId = 1L)
    assert(t2.read().filter(col("k") === 1).head().getInt(2) == 1, "archived replay is a no-op")
    // the token allocator's floor survives archival: next commit gets token 6
    t2.upsert(Seq((9L, "a", 9)).toDF("k", "p", "v"), Seq(col("k")), batchId = 6L)
    assert(t2.parentTimeline().last.seq == 6L)
  }

  test("deletes tombstone within their partition only") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p")
    t.upsert(Seq((1L, "a", 1), (1L, "b", 2)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    t.delete(Seq((1L, "a")).toDF("k", "p"), batchId = 2L)
    val rows = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "b")))
  }

  test("parent manifest + catalog: external engine reads one cross-partition snapshot") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 2)
    t.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    // second commit trips every partition's num trigger → all compact →
    // parent manifest spans BOTH partitions' bases
    t.upsert(Seq((1L, "a", 11), (3L, "b", 30)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 2L)
    val ext = PartitionedMorTable.readManifest(spark, t.path)
      .select("k", "p", "v").orderBy("p", "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    val own = t.read().select("k", "p", "v").orderBy("p", "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(ext == own && ext == Seq((1L, "a", 11), (2L, "b", 20), (3L, "b", 30)))
    // metadata plane: an external catalog sync discovers the table shape
    val (name, path, keys, pcol, schema) = PartitionedMorTable.readCatalog(spark, t.path)
    assert(path == t.path && keys == Seq("k") && pcol == "p" && name.nonEmpty)
    assert(schema.fieldNames.toSet == Set("k", "p", "v"))
    // manifest is compaction-stale: a post-compaction delta is invisible
    // externally until the next compaction, never half-visible
    t.upsert(Seq((9L, "a", 90)).toDF("k", "p", "v"), Seq(col("k")), batchId = 3L)
    assert(PartitionedMorTable.readManifest(spark, t.path).count() == 3)
  }

  test("parent savepoint/restore: children roll back, late partitions vanish, pin survives clean") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 2, autoCompact = false)
    t.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    t.upsert(Seq((1L, "a", 11)).toDF("k", "p", "v"), Seq(col("k")), batchId = 2L)
    val token = t.savepoint("pin")
    assert(t.savepoints() == Map("pin" -> token))
    // post-pin history: an update, a NEW partition, and a compaction+clean
    t.upsert(Seq((1L, "a", 99), (3L, "c", 30)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 3L)
    t.compactPartitions(Seq("a"))
    t.clean() // child pins must keep the pinned snapshot restorable
    val rolled = t.restore("pin")
    assert(rolled >= 2, s"rolled=$rolled")
    assert(t.partitions() == Seq("a", "b"), t.partitions())
    val rows = t.read().orderBy("p", "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1L, "a", 11), (2L, "b", 20)), rows)
    assert(t.parentTimeline().last.seq == token, "parent timeline lands on the pin")
    assert(t.savepoints() == Map("pin" -> token), "pin survives its own restore")
    // the rolled-back batch id is re-committable (re-ingest after restore)
    t.upsert(Seq((5L, "b", 50)).toDF("k", "p", "v"), Seq(col("k")), batchId = 3L)
    assert(t.read().count() == 3)
    t.releaseSavepoint("pin")
    assert(t.savepoints().isEmpty &&
      t.child("a").savepoints().isEmpty && t.child("b").savepoints().isEmpty)
  }

  test("partitioned upsertIfNew: per-child proofs in one probe, flags land on child instants") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    t.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    t.compactPartitions(Seq("a", "b")) // manifests publish bounds + blooms
    // one disjoint child (bounds prove it, zero scan), one overlapping
    // child (bloom probe refuses), one partition born in this batch
    val verdicts = t.upsertIfNew(
      Seq((7L, "a", 70), (2L, "b", 99), (9L, "c", 90)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 2L)
    assert(verdicts == Map("a" -> true, "b" -> false, "c" -> true), verdicts)
    assert(t.child("a").timeline().last.insertOnly)
    assert(!t.child("b").timeline().last.insertOnly)
    assert(t.child("c").timeline().last.insertOnly)
    val rows = t.read().orderBy("p", "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1L, "a", 10), (7L, "a", 70), (2L, "b", 99), (9L, "c", 90)))
    // exactly-once: replaying the committed batch id is a no-op
    assert(t.upsertIfNew(Seq((2L, "b", 0)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 2L).isEmpty)
    assert(t.read().count() == 4)
    // both children scanned in the SAME probe job (live deltas force it),
    // each against ITS OWN bloom: a in-range-new, b overlapping
    val v2 = t.upsertIfNew(Seq((3L, "a", 30), (2L, "b", 21)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 3L)
    assert(v2 == Map("a" -> true, "b" -> false), v2)
    val rows2 = t.read().orderBy("p", "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows2 == Seq((1L, "a", 10), (3L, "a", 30), (7L, "a", 70),
      (2L, "b", 21), (9L, "c", 90)))
  }

  test("upsertIfNew: special-character partition values never claim false newness") {
    // THREE encodings of a partition value disagree for these: the raw
    // child dir (`p=a b`), Hive's escapePathName (staged `__p=` dirs), and
    // the Hadoop-Path URI form input_file_name() yields (`p=a%20b`). The
    // probe must key its bloom map by the LAST one — a mismatch used to
    // null out the lookup, drop the row, and wrongly flag the commit
    // insertOnly (LWW-corrupting). Values cover space, '%', '=', '#', '*'.
    val vals = Seq("a b", "100%", "x=y", "h#t", "s*r")
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    val rows = vals.zipWithIndex.map { case (p, i) => (i.toLong, p, i * 10) }
    t.upsert(rows.toDF("k", "p", "v"), Seq(col("k")), batchId = 1L)
    assert(t.partitions().sorted == vals.sorted)
    t.compactPartitions(vals) // manifests publish bounds + blooms per child
    // one EXISTING key per partition: every proof must refuse (the old
    // encoding bug proved them all "new")
    val existing = vals.zipWithIndex.map { case (p, i) => (i.toLong, p, 999) }
    val v1 = t.upsertIfNew(existing.toDF("k", "p", "v"), Seq(col("k")), batchId = 2L)
    assert(v1 == vals.map(_ -> false).toMap, v1)
    vals.foreach(p => assert(!t.child(p).timeline().last.insertOnly,
      s"child '$p' wrongly flagged insertOnly"))
    // LWW must show the updates (an insertOnly lie would skip the merge)
    val got = t.read().collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(got == vals.indices.map(i => i.toLong -> 999).toMap, got)
    // and genuinely-new keys must still PROVE new (fail-closed alone would
    // degrade every special-char partition to the merge path forever)
    val fresh = vals.zipWithIndex.map { case (p, i) => (100L + i, p, 1) }
    val v2 = t.upsertIfNew(fresh.toDF("k", "p", "v"), Seq(col("k")), batchId = 3L)
    assert(v2 == vals.map(_ -> true).toMap, v2)
  }

  test("partitioned savepoint/restore round-trips special-character partition values") {
    val nasty = Seq("""we"ird]""", "pl[ain", "ok")
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    t.upsert(nasty.zipWithIndex.map { case (p, i) => (i.toLong, p, i) }
      .toDF("k", "p", "v"), Seq(col("k")), batchId = 1L)
    val token = t.savepoint("pin")
    // post-pin: a new partition AND an update to a pinned one
    t.upsert(Seq((50L, "newpart", 5), (0L, nasty.head, 99)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 2L)
    assert(t.partitions().size == 4)
    val rolled = t.restore("pin")
    assert(rolled > 0)
    // a truncated parse would have treated pinned partitions as born-after
    // and DELETED them — all three must survive with pre-pin data
    assert(t.partitions().sorted == nasty.sorted)
    val got = t.read().collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(got == nasty.indices.map(i => i.toLong -> i).toMap, got)
    assert(t.parentTimeline().last.seq == token)
  }

  test("sharded parent manifest: listing unions child stats relations, no driver string") {
    val prev = MorTable.smallManifestFiles
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 4)
    try {
      MorTable.smallManifestFiles = 2 // 3 children x 4 files >> threshold
      val rows = (1 to 300).map(i => (f"k$i%04d", s"g${i % 3}", i)).toDF("k", "p", "v")
      t.upsert(rows, Seq(col("k")), batchId = 1L)
      t.compactPartitions(t.partitions())
      val token = t.parentTimeline().last.seq
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${t.path}/manifest/$token.json")))
      assert(json.contains("\"filesDir\""), s"expected sharded parent manifest: $json")
      assert(!json.contains("\"files\":["), "inline listing must not also be present")
      assert(json.length < 256, s"parent header not tiny: ${json.length}")
      // the external recipe reads the parquet listing and equals read()
      val ext = PartitionedMorTable.readManifest(spark, t.path)
        .orderBy("k").collect().map(r => (r.getAs[String]("k"), r.getAs[Int]("v"))).toSeq
      val want = t.read().orderBy("k").collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Int]("v"))).toSeq
      assert(ext == want && ext.size == 300)
    } finally MorTable.smallManifestFiles = prev
    // back under the threshold: a post-drop regenerate stays inline (the
    // metadata-only DROP PARTITION contract at small scale)
    t.dropPartitions(Seq("g2"))
    val token2 = t.parentTimeline().last.seq
    val json2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${t.path}/manifest/$token2.json")))
    assert(json2.contains("\"files\":["), json2.take(120))
    assert(PartitionedMorTable.readManifest(spark, t.path).count() == 200)
  }

  test("dropPartitions: storage+metadata delete, manifest refresh, re-ingest works") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 2)
    t.upsert(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    t.upsert(Seq((4L, "a", 40), (5L, "b", 50), (6L, "c", 60)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 2L) // num trigger → all compact → manifest
    val tokensBefore = t.parentTimeline().map(_.seq).max
    // TTL away partition "a"
    assert(t.dropPartitionsWhere(_ == "a") == Seq("a"))
    assert(t.partitions() == Seq("b", "c"))
    assert(t.read().select("p").distinct().collect().map(_.getString(0)).sorted.toSeq
      == Seq("b", "c"))
    // pruned read of the dropped value is a loud miss, not silent stale data
    intercept[IllegalArgumentException](t.read(Seq("a")).collect())
    // the drop is a parent instant (streams observe an offset bump, no rows)
    val dropInstant = t.parentTimeline().last
    assert(dropInstant.kind == "drop" && dropInstant.seq > tokensBefore)
    // external manifest regenerated WITHOUT the dropped partition's files
    val ext = PartitionedMorTable.readManifest(spark, t.path)
    assert(ext.select("p").distinct().collect().map(_.getString(0)).sorted.toSeq
      == Seq("b", "c"), "external readers must stop seeing dropped files")
    // dropping a missing value is a no-op; re-ingest recreates the partition
    assert(t.dropPartitions(Seq("a", "zz")).isEmpty)
    t.upsert(Seq((7L, "a", 70)).toDF("k", "p", "v"), Seq(col("k")), batchId = 3L)
    assert(t.read(Seq("a")).count() == 1, "dropped partition value is re-ingestable")
  }

  test("readAt: parent-token travel across compaction; late-born partitions vanish below their birth") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 2, writePartitions = 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    t.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"), Nil, batchId = 1L)
    val tok1 = t.parentTimeline().last.seq
    // update + a LATE-BORN partition "c"
    t.upsert(Seq((1L, "a", 11), (3L, "c", 30)).toDF("k", "p", "v"), Nil, batchId = 2L)
    val tok2 = t.parentTimeline().last.seq
    // third commit — the num trigger has compacted children by now, so the
    // travel reads below cross a compacted child's retained delta history
    t.upsert(Seq((2L, "b", 22)).toDF("k", "p", "v"), Nil, batchId = 3L)
    val tok3 = t.parentTimeline().filter(_.kind == "delta").last.seq
    assert(rows(t.readAt(tok1)) == Set((1L, "a", 10), (2L, "b", 20)),
      "travel below partition c's birth must not show it")
    assert(rows(t.readAt(tok2)) == Set((1L, "a", 11), (2L, "b", 20), (3L, "c", 30)))
    assert(rows(t.readAt(tok3)) == rows(t.read()), "travel to latest == read")
    // partition-pruned travel opens only the named child
    assert(rows(t.readAt(tok2, Seq("a"))) == Set((1L, "a", 11)))
    // tombstones respect the token: a post-travel delete stays invisible
    t.delete(Seq((2L, "b")).toDF("k", "p"), batchId = 4L)
    assert(!rows(t.read()).exists(_._1 == 2L))
    assert(rows(t.readAt(tok3)).exists(_._1 == 2L),
      "a later tombstone must not leak into the pinned state")
    // below the first commit: loud, not empty
    intercept[IllegalArgumentException](t.readAt(tok1 - 1))
    // a DROPPED partition is physically gone at EVERY token (drops bound
    // travel, like cleaning — Hudi semantics)
    t.dropPartitions(Seq("c"))
    assert(rows(t.readAt(tok2)) == Set((1L, "a", 11), (2L, "b", 20)))
  }

  test("cloneTo: partitioned zero-copy clone — token continuation, two-way isolation, pin vs clean") {
    val src = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 100, autoCompact = false)
    src.upsert(Seq((1L, "a", 10), (2L, "b", 20), (3L, "b", 30))
      .toDF("k", "p", "v"), Seq(col("k")), batchId = 1L)
    // boundary refusals: no child base yet, then a live delta above it
    intercept[IllegalStateException](src.cloneTo(tmp()))
    src.compactPartitions(src.partitions())
    src.upsert(Seq((1L, "a", 11)).toDF("k", "p", "v"), Seq(col("k")), batchId = 2L)
    intercept[IllegalArgumentException](src.cloneTo(tmp()))
    src.compactPartitions(src.partitions())

    val pinnedToken = src.parentTimeline().last.seq
    val dstPath = tmp()
    val dst = src.cloneTo(dstPath)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("p"), r.getAs[Int]("v"))).toSet
    // zero copy + token-space continuation
    assert(!new java.io.File(s"$dstPath/p=a/base").exists())
    assert(dst.parentTimeline().last.seq == pinnedToken)
    assert(rowsOf(dst.read()) == Set((1L, "a", 11), (2L, "b", 20), (3L, "b", 30)))
    assert(src.savepoints().keys.exists(_.startsWith("clone_")))

    // divergence, clone -> source: the clone's write claims a token PAST
    // the pinned one, so it outranks the adopted raw rows
    dst.upsert(Seq((2L, "b", 99)).toDF("k", "p", "v"), Seq(col("k")), batchId = 7L)
    assert(rowsOf(dst.read()).contains((2L, "b", 99)))
    assert(rowsOf(src.read()).contains((2L, "b", 20)))
    // travel to the clone point still serves the adopted state
    assert(rowsOf(dst.readAt(pinnedToken)) ==
      Set((1L, "a", 11), (2L, "b", 20), (3L, "b", 30)))
    // divergence, source -> clone
    src.upsert(Seq((3L, "b", 77)).toDF("k", "p", "v"), Seq(col("k")), batchId = 8L)
    assert(rowsOf(dst.read()).contains((3L, "b", 30)))

    // source housekeeping cannot break the clone: fold + clean on the
    // source — the clone_<dst> pin keeps the referenced child bases alive
    src.compactPartitions(src.partitions())
    src.clean()
    assert(rowsOf(dst.read()) ==
      Set((1L, "a", 11), (2L, "b", 99), (3L, "b", 30)))
    // the clone's own compaction folds everything managed
    dst.compactPartitions(dst.partitions())
    assert(new java.io.File(s"$dstPath/p=a/base").exists())
    assert(rowsOf(dst.read()) ==
      Set((1L, "a", 11), (2L, "b", 99), (3L, "b", 30)))
  }

  test("point reads on a FRESH partitioned clone scan the adopted external bases (pointScanPaths regression)") {
    // regression: pointScanPaths' no-manifest fallback returned the
    // MANAGED base path ($child/base/<seq>) for a clone-adopted base —
    // which does not exist on a fresh clone — crashing readForKeys before
    // the clone's first compaction
    val src = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    src.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    src.compactPartitions(src.partitions())
    val dst = src.cloneTo(tmp())
    val got = dst.readForKeys(Seq("1")).collect()
    assert(got.length == 1 && got.head.getAs[Int]("v") == 10)
    assert(dst.readForKeys(Seq("1", "2")).count() == 2)
    // unpartitioned form too: fresh clone, point read before compaction
    val usrc = MorTable(spark, tmp(), Seq("k"), compactionDeltaCommits = 100)
    usrc.upsert(Seq((1L, 10), (2L, 20)).toDF("k", "v"), Seq(col("v")), batchId = 1L)
    usrc.compact()
    val udst = usrc.cloneTo(tmp())
    assert(udst.readForKeys(Seq("2")).head().getAs[Int]("v") == 20)
  }

  test("partitioned cloneTo retry recovers a crash between child adoptions and the parent instant") {
    val src = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 100, autoCompact = false)
    src.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    src.compactPartitions(src.partitions())
    val dstPath = tmp()
    // simulate the crash state: children adopted, parent timeline never
    // written (reads on the half-clone fail loudly)
    val pre = new PartitionedMorTable(spark, dstPath, Seq("k"), "p",
      compactionDeltaCommits = 100, autoCompact = false)
    src.partitions().foreach { v =>
      val c = src.child(v).cloneBoundaryBase()
      pre.child(v).adoptClonedBase(s"${src.child(v).path}/base/${c.seq}")
    }
    assert(pre.parentTimeline().isEmpty)
    // the retry must skip the already-adopted children instead of wedging
    // on adoptClonedBase's already-has-commits refusal
    val dst = src.cloneTo(dstPath)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("p"), r.getAs[Int]("v"))).toSet
    assert(rowsOf(dst.read()) == Set((1L, "a", 10), (2L, "b", 20)))
    assert(dst.parentTimeline().last.seq == src.parentTimeline().last.seq)
    // each child still carries exactly ONE adoption instant
    dst.partitions().foreach(v => assert(dst.child(v).timeline().size == 1))
  }

  test("partitioned cloneTo retry after source advance never releases the live clone's pin; TTL exempts it") {
    val src = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 100, autoCompact = false)
    src.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"),
      Seq(col("k")), batchId = 1L)
    src.compactPartitions(src.partitions())
    val dstPath = tmp()
    val dst = src.cloneTo(dstPath)
    val pin = src.savepoints().keys.find(_.startsWith("clone_")).get
    val pinnedTok = src.savepoints()(pin)
    // source advances, then the same clone command re-runs: refuse, keep pin
    src.upsert(Seq((1L, "a", 11)).toDF("k", "p", "v"), Seq(col("k")), batchId = 2L)
    src.compactPartitions(src.partitions())
    val e = intercept[IllegalStateException](src.cloneTo(dstPath))
    assert(e.getMessage.contains("distinct dst name"))
    assert(src.savepoints().get(pin).contains(pinnedTok),
      "failed partitioned clone retry released the live clone's pin")
    // TTL housekeeping must not collect the clone pin either
    val far = System.currentTimeMillis() + 3600000L
    assert(!src.releaseSavepointsOlderThan(1L, nowMs = far).contains(pin))
    assert(src.savepoints().contains(pin))
    src.clean()
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("p"), r.getAs[Int]("v"))).toSet
    assert(rowsOf(dst.read()) == Set((1L, "a", 10), (2L, "b", 20)),
      "live clone lost a child base to source clean()")
    // opt-in collects it
    assert(src.releaseSavepointsOlderThan(1L, nowMs = far,
      includeClonePins = true).contains(pin))
  }

  test("bootstrap: partitioned zero-copy onboarding — Hive layout adopted, deltas layer, per-child compaction folds, source never touched") {
    // standard Hive layout, exactly what partitionBy produces: the
    // partition value lives ONLY in the dir names, typed int by discovery
    val extDir = tmp() + "/ext"
    Seq((1L, "a", 10, 100), (2L, "a", 20, 100), (3L, "b", 30, 200),
      (4L, "b", 40, 200), (5L, "c", 50, 300))
      .toDF("k", "name_tag", "v", "dt")
      .write.partitionBy("dt").parquet(extDir)
    val f = new org.apache.hadoop.fs.Path(extDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def extState() = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
        f.listStatus(p).toSeq.flatMap(st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq((st.getPath.toString, st.getLen, st.getModificationTime)))
      walk(new org.apache.hadoop.fs.Path(extDir)).sortBy(_._1)
    }
    val before = extState()

    val path = tmp()
    val t = new PartitionedMorTable(spark, path, Seq("k"), "dt",
      compactionDeltaCommits = 1000, autoCompact = false)
    t.bootstrap(extDir, batchId = 1L)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "dt", "v").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Int]("dt"), r.getAs[Int]("v"))).toSet
    // zero copy: one instant per child + one parent instant, no data dirs
    assert(t.partitions() == Seq("100", "200", "300"))
    assert(t.parentTimeline().map(_.kind) == Seq("compact"))
    assert(t.parentTimeline().head.bootstrapDir.contains(extDir))
    t.partitions().foreach { v =>
      assert(t.child(v).timeline().size == 1)
      assert(!new java.io.File(s"$path/p=$v/base").exists(),
        "bootstrap must not copy data into managed base dirs")
      assert(!new java.io.File(s"$path/p=$v/delta").exists())
    }
    // the full snapshot, RO view, pruned read, and point reads all serve
    // the external data with the partition column reconstructed
    assert(rowsOf(t.read()) == Set((1L, 100, 10), (2L, 100, 20),
      (3L, 200, 30), (4L, 200, 40), (5L, 300, 50)))
    assert(rowsOf(t.readOptimized()) == rowsOf(t.read()))
    assert(rowsOf(t.read(Seq("200"))) == Set((3L, 200, 30), (4L, 200, 40)))
    // partition pruning is LISTING-level on the discovery scan: a pruned
    // read must not even open the other partitions' files
    assert(t.read(Seq("200")).inputFiles.nonEmpty &&
      t.read(Seq("200")).inputFiles.forall(_.contains("dt=200")),
      "pruned bootstrap read listed files outside the selected partition")
    // data-column predicates push into the external parquet scan
    val pushed = t.read().filter(col("v") > 35)
      .queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters") &&
      pushed.replaceAll("\\s", "").contains("GreaterThan(v,35)"),
      s"filter did not push into the bootstrap scan:\n$pushed")
    assert(rowsOf(t.readForKeys(Seq("3"))) == Set((3L, 200, 30)))
    assert(rowsOf(t.readForKeysOf(Seq("5").toDF("k"))) == Set((5L, 300, 50)))
    // exactly-once: a replayed bootstrap batch / completed retry no-ops
    t.bootstrap(extDir, batchId = 1L)
    assert(t.parentTimeline().size == 1)

    // deltas layer on top: an update, an insert (new partition!), a delete
    t.upsert(Seq((2L, 100, 21), (9L, 400, 90)).toDF("k", "dt", "v"),
      Seq(col("v")), batchId = 2L)
    t.delete(Seq((5L, 300)).toDF("k", "dt"), batchId = 3L)
    assert(rowsOf(t.read()) == Set((1L, 100, 10), (2L, 100, 21),
      (3L, 200, 30), (4L, 200, 40), (9L, 400, 90)))
    assert(rowsOf(t.readForKeys(Seq("2", "5", "9"))) ==
      Set((2L, 100, 21), (9L, 400, 90)))
    // upsertIfNew: a bootstrap child has no probe-able key column —
    // FAIL CLOSED, the touched bootstrap child must NOT claim newness
    // even for a genuinely new key (downgrade, never a false proof)
    val verdicts = t.upsertIfNew(Seq((6L, 200, 60)).toDF("k", "dt", "v"),
      Seq(col("v")), batchId = 4L)
    assert(verdicts == Map("200" -> false),
      s"bootstrap child claimed newness it cannot prove: $verdicts")
    assert(rowsOf(t.read()).contains((6L, 200, 60)))
    // time travel: the bootstrap state replays at the bootstrap token
    val bootTok = t.parentTimeline().head.seq
    assert(rowsOf(t.readAt(bootTok)) == Set((1L, 100, 10), (2L, 100, 20),
      (3L, 200, 30), (4L, 200, 40), (5L, 300, 50)))
    // incremental pull starts ABOVE the bootstrap (onboarding contract)
    assert(t.readIncremental(bootTok).count() == 4) // 2,9,5-tombstone,6

    // per-child compaction folds ONLY the churned children managed;
    // partition 300 still serves its external base afterwards
    t.compactPartitions(Seq("100", "200"))
    assert(new java.io.File(s"$path/p=100/base").exists())
    assert(!new java.io.File(s"$path/p=300/base").exists())
    assert(rowsOf(t.read()) == Set((1L, 100, 10), (2L, 100, 21),
      (3L, 200, 30), (4L, 200, 40), (6L, 200, 60), (9L, 400, 90)))
    assert(rowsOf(t.readAt(bootTok)) == Set((1L, 100, 10), (2L, 100, 20),
      (3L, 200, 30), (4L, 200, 40), (5L, 300, 50)),
      "travel must still replay the bootstrap state after compaction")
    // the dt=300 tombstone survives compaction of ITS child too
    t.compactPartitions(Seq("300", "400"))
    assert(rowsOf(t.read()) == Set((1L, 100, 10), (2L, 100, 21),
      (3L, 200, 30), (4L, 200, 40), (6L, 200, 60), (9L, 400, 90)))
    assert(extState() == before,
      "bootstrap/compaction/reads must never touch the external source")

    // refusals: non-empty table (same source no-ops — the completed-retry
    // contract — but a DIFFERENT source must refuse), missing source, no
    // hive dirs, key column absent, partition col carried as a data column
    val other = tmp() + "/other"
    Seq((7L, 7, 100)).toDF("k", "v", "dt").write.partitionBy("dt").parquet(other)
    intercept[IllegalArgumentException](t.bootstrap(other))
    val rowsBefore = rowsOf(t.read())
    t.bootstrap(extDir) // completed bootstrap of the same source: no-op
    assert(rowsOf(t.read()) == rowsBefore)
    val t2 = new PartitionedMorTable(spark, tmp(), Seq("k"), "dt",
      compactionDeltaCommits = 1000, autoCompact = false)
    intercept[IllegalArgumentException](t2.bootstrap(extDir + "-nope"))
    val flat = tmp() + "/flat"
    Seq((1L, 1)).toDF("k", "v").write.parquet(flat)
    intercept[IllegalArgumentException](t2.bootstrap(flat))
    val badKey = tmp() + "/badkey"
    Seq((1, 100)).toDF("v", "dt").write.partitionBy("dt").parquet(badKey)
    intercept[IllegalArgumentException](t2.bootstrap(badKey))
    val carried = tmp() + "/carried"
    Seq((1L, 1, 100)).toDF("k", "v", "dt").write.parquet(s"$carried/dt=100")
    intercept[IllegalArgumentException](t2.bootstrap(carried))
  }

  test("partitioned cloneTo at the bootstrap boundary: fresh adoption of the same root, no pin") {
    val extDir = tmp() + "/ext"
    Seq((1L, 10, 100), (2L, 20, 200)).toDF("k", "v", "dt")
      .write.partitionBy("dt").parquet(extDir)
    val src = new PartitionedMorTable(spark, tmp(), Seq("k"), "dt",
      compactionDeltaCommits = 1000, autoCompact = false)
    src.bootstrap(extDir, batchId = 1L)
    val dstPath = tmp()
    val dst = src.cloneTo(dstPath)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Int]("dt"), r.getAs[Int]("v"))).toSet
    assert(rowsOf(dst.read()) == Set((1L, 100, 10), (2L, 200, 20)))
    assert(src.savepoints().isEmpty, "bootstrap-boundary clone needs no pin")
    dst.partitions().foreach(v =>
      assert(!new java.io.File(s"$dstPath/p=$v/base").exists()))
    // divergence both ways off the shared user-owned root
    dst.upsert(Seq((1L, 100, 99)).toDF("k", "dt", "v"), Seq(col("v")), batchId = 2L)
    src.delete(Seq((2L, 200)).toDF("k", "dt"), batchId = 2L)
    assert(rowsOf(dst.read()) == Set((1L, 100, 99), (2L, 200, 20)))
    assert(rowsOf(src.read()) == Set((1L, 100, 10)))
    // mixed boundary (one child compacted managed, one still external)
    // refuses: one parent instant cannot be both continuation + bootstrap
    val src2 = new PartitionedMorTable(spark, tmp(), Seq("k"), "dt",
      compactionDeltaCommits = 1000, autoCompact = false)
    src2.bootstrap(extDir, batchId = 1L)
    src2.compactPartitions(Seq("100"))
    val e = intercept[IllegalArgumentException](src2.cloneTo(tmp()))
    assert(e.getMessage.contains("mixes"), e.getMessage)
    // partition TTL on a STILL-EXTERNAL bootstrap child removes only the
    // child's metadata dir — the user's files in the source root survive
    val extFiles = new java.io.File(s"$extDir/dt=200").listFiles()
      .map(_.getName).toSet
    src2.dropPartitions(Seq("200"))
    assert(!src2.partitions().contains("200"))
    assert(new java.io.File(s"$extDir/dt=200").listFiles()
      .map(_.getName).toSet == extFiles,
      "dropping a bootstrap partition touched the external source")
  }

  test("readForColRanges: per-child colstats skip files; straggler children fall back whole") {
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 8)
    val rows = (1 to 400).map(i => (i.toLong, if (i % 2 == 0) "A" else "B", i))
      .toDF("k", "p", "v")
    t.upsert(rows, Seq(col("k")), batchId = 1L)
    // z-order children → per-file v min/max in each child manifest
    t.compactZOrderPartitions(Seq("v"), dueOnly = false)
    def baseFiles(v: String) =
      new java.io.File(s"${t.path}/p=$v/base/${t.child(v).timeline().last.seq}")
        .listFiles().count(_.getName.endsWith(".parquet"))
    val totalBase = baseFiles("A") + baseFiles("B")
    assert(totalBase >= 4, s"need several base files per child, got $totalBase")
    // a delta on top: an in-range update, an out-of-range move, an insert
    t.upsert(Seq((10L, "A", 9999), (11L, "B", 55), (999L, "B", 60))
      .toDF("k", "p", "v"), Seq(col("k")), batchId = 2L)
    val got = t.readForColRanges(Seq(("v", 50.0, 100.0)))
    // listing-level skip: strictly fewer base files than the full set
    assert(got.inputFiles.count(_.contains("/base/")) < totalBase,
      "colstats pruning should drop base files across children")
    val expect = (50 to 99).map(_.toLong).toSet + 11L + 999L
    val gotKeys = got.collect().map(_.getAs[Long]("k")).toSet
    // ground truth: LWW state filtered by the range
    val truth = t.read().filter(col("v") >= 50 && col("v") < 100)
      .collect().map(_.getAs[Long]("k")).toSet
    assert(gotKeys == truth, s"range read diverged: ${gotKeys.diff(truth)} / ${truth.diff(gotKeys)}")
    assert(truth.contains(11L) && truth.contains(999L) && !truth.contains(10L),
      "sanity: delta moves respected (10 moved out, 11 stays, 999 inserted)")
    assert(expect == truth, "sanity: expected set arithmetic")
    // partition-pruned form only consults the named child
    val pruned = t.readForColRanges(Seq(("v", 50.0, 100.0)), values = Seq("A"))
    assert(pruned.collect().map(_.getAs[Long]("k")).toSet ==
      truth.filter(k => t.read(Seq("A")).filter(col("k") === k).count() == 1))
  }

  test("bootstrap round-trips special-character partition values (three-encodings rule)") {
    // the source dirs are HIVE-ESCAPED (partitionBy writes them), the
    // child dirs and stats speak RAW values, and the discovery scan needs
    // glob-escaping — any probe keyed on one encoding and fed another
    // silently misses (CLAUDE.md three-encodings rule), so exercise all
    // the hazard characters at once
    val extDir = tmp() + "/ext"
    Seq((1L, 10, "s r"), (2L, 20, "a%b"), (3L, 30, "s*r"), (4L, 40, "pl[ain"))
      .toDF("k", "v", "dt").write.partitionBy("dt").parquet(extDir)
    val t = new PartitionedMorTable(spark, tmp(), Seq("k"), "dt",
      compactionDeltaCommits = 1000, autoCompact = false)
    t.bootstrap(extDir, batchId = 1L)
    assert(t.partitions().toSet == Set("s r", "a%b", "s*r", "pl[ain"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("dt"), r.getAs[Int]("v"))).toSet
    assert(rowsOf(t.read()) == Set((1L, "s r", 10), (2L, "a%b", 20),
      (3L, "s*r", 30), (4L, "pl[ain", 40)),
      "discovery scan must reconstruct the UNESCAPED partition values")
    // pruned reads address children by RAW value; the glob-hazard names
    // must neither explode nor miss
    assert(rowsOf(t.read(Seq("s*r"))) == Set((3L, "s*r", 30)))
    assert(rowsOf(t.read(Seq("pl[ain"))) == Set((4L, "pl[ain", 40)))
    assert(rowsOf(t.readForKeys(Seq("2"))) == Set((2L, "a%b", 20)))
    // deltas + per-child compaction bake the synthesized value into the
    // managed base; the mixed read still agrees on every encoding
    t.upsert(Seq((3L, "s*r", 99)).toDF("k", "dt", "v"), Seq(col("v")), batchId = 2L)
    t.compactPartitions(Seq("s*r", "pl[ain"))
    assert(rowsOf(t.read()) == Set((1L, "s r", 10), (2L, "a%b", 20),
      (3L, "s*r", 99), (4L, "pl[ain", 40)))
    assert(rowsOf(t.readAt(1L)) == Set((1L, "s r", 10), (2L, "a%b", 20),
      (3L, "s*r", 30), (4L, "pl[ain", 40)),
      "travel must replay the bootstrap state across hazard names")
  }

  test("bootstrap retry recovers a crash between child adoptions and the parent instant") {
    val extDir = tmp() + "/ext"
    Seq((1L, "x", 100), (2L, "y", 200)).toDF("k", "v", "dt")
      .write.partitionBy("dt").parquet(extDir)
    val path = tmp()
    val t = new PartitionedMorTable(spark, path, Seq("k"), "dt",
      compactionDeltaCommits = 1000, autoCompact = false)
    // simulate the crash: one child adopted, parent timeline never written
    t.child("100").adoptBootstrapBase(s"$extDir/dt=100", "dt", "100", "int",
      expectSeq = 1L)
    assert(t.parentTimeline().isEmpty)
    // the retry must skip the adopted child and complete
    t.bootstrap(extDir, batchId = 7L)
    assert(t.parentTimeline().size == 1)
    assert(t.read().count() == 2)
    t.partitions().foreach(v => assert(t.child(v).timeline().size == 1))
  }
}
