package graft.lake

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The SQL CALL-procedure surface (Hudi spark-sql procedures analog):
  * operational verbs — compaction, clean, savepoints, timeline, partition
  * TTL — driven end-to-end through `spark.sql("CALL graft_ops.…")` with
  * named arguments, against tables registered in the same catalog the
  * SELECT surface uses. */
class ProcedureCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graft_ops", "graft.lake.GraftProcedureCatalog")
    s
  }
  import spark.implicits._

  private def rows(n: Int, tag: String) =
    (1 to n).map(i => (s"id$i", s"$tag$i", i.toLong)).toDF("uuid", "name", "v")

  test("CALL lifecycle on an unpartitioned table: compaction, commits, savepoint, clean") {
    val t = MorTable(spark, TestSpark.tmpDir("proc-mor"), Seq("uuid"),
      compactionDeltaCommits = 100)
    graft.GraftCatalog.register(spark, "proc_t1", t)
    t.upsert(rows(8, "a"), Seq(col("v")))
    t.upsert(rows(4, "b"), Seq(col("v")))

    // timeline via SQL: two delta commits
    val commits0 = spark.sql("CALL graft_ops.show_commits(table => 'proc_t1')")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(commits0.length == 2 && commits0.forall(_._2 == "delta"), commits0.toSeq)

    // named-arg compaction with an explicit mode
    val ack = spark.sql("CALL graft_ops.run_compaction(table => 'proc_t1', mode => 'full')")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(ack.toSeq == Seq(("compacted", "full")))
    assert(spark.sql("CALL graft_ops.show_commits(table => 'proc_t1')")
      .collect().map(_.getString(1)).contains("compact"))

    // record index via CALL: builds at the fresh boundary, point reads pin
    val idx = spark.sql("CALL graft_ops.create_record_index(table => 'proc_t1')")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(idx.toSeq == Seq(("indexed", "proc_t1")))
    assert(t.hasRecordIndex())

    // savepoint → more writes → restore rolls them back
    val sp = spark.sql("CALL graft_ops.create_savepoint(table => 'proc_t1', name => 'sp1')")
      .collect().head.getLong(0)
    assert(sp > 0)
    t.upsert(rows(8, "c"), Seq(col("v")), batchId = 77L)
    assert(t.read().filter($"name".startsWith("c")).count() == 8)
    val names = spark.sql("CALL graft_ops.show_savepoints(table => 'proc_t1')")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(names.toSeq == Seq(("sp1", sp)))
    val rolled = spark.sql(
      "CALL graft_ops.restore_savepoint(table => 'proc_t1', name => 'sp1')")
      .collect().head.getInt(0)
    assert(rolled >= 1)
    assert(t.read().filter($"name".startsWith("c")).count() == 0)
    assert(t.read().count() == 8)

    // positional arguments bind too (not only the named form)
    assert(spark.sql("CALL graft_ops.run_compaction('proc_t1', 'minor')")
      .collect().head.getString(1) == "minor")

    // default-argument call (mode defaults to 'full') and clean
    spark.sql("CALL graft_ops.run_compaction(table => 'proc_t1')").collect()
    val removed = spark.sql("CALL graft_ops.run_clean(table => 'proc_t1')")
      .collect().head.getInt(0)
    assert(removed >= 0)
    assert(t.read().count() == 8)

    // show_files: newest manifest listing with key bounds, no Spark job
    val files = spark.sql("CALL graft_ops.show_files(table => 'proc_t1')")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(files.nonEmpty && files.forall(_._1.endsWith(".parquet")), files.toSeq)
    assert(files.forall(f => f._2 != null && f._2 <= f._3), "key bounds present")

    // policy + snapshot export verbs
    val pol = spark.sql("CALL graft_ops.show_policy(table => 'proc_t1')")
      .collect().head
    assert(pol.getInt(0) == 2 && pol.getInt(3) == 0, pol) // defaults: no declared policy
    val exportDir = graft.TempDirs.create("proc-export") + "/snap"
    val exported = spark.sql(
      s"CALL graft_ops.export_snapshot(table => 'proc_t1', path => '$exportDir')")
      .collect().head.getLong(0)
    assert(exported == t.read().count())
    assert(spark.read.parquet(exportDir).columns.sameElements(t.read().columns))

    // the statement surface around procedures works too
    val listed = spark.sql("SHOW PROCEDURES IN graft_ops")
      .collect().flatMap(r => (0 until r.length)
        .flatMap(i => Option(r.get(i)).map(_.toString)))
    assert(listed.contains("run_compaction") && listed.contains("show_commits"),
      listed.toSeq)
    val desc = spark.sql("DESCRIBE PROCEDURE graft_ops.run_clean")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("run_clean"), desc)

    // unknown table fails loudly with the registry hint
    val e = intercept[Exception](
      spark.sql("CALL graft_ops.run_clean(table => 'nope')").collect())
    assert(e.getMessage.contains("not a registered graft table"), e.getMessage)

    // a NULL argument is rejected up front, naming the parameter — not a
    // MatchError out of the body's destructure
    val n1 = intercept[Exception](
      spark.sql("CALL graft_ops.run_clean(table => NULL)").collect())
    assert(n1.getMessage.contains("NULL argument") &&
      n1.getMessage.contains("'table'"), n1.getMessage)
    val n2 = intercept[Exception](
      spark.sql("CALL graft_ops.run_compaction(table => 'nope', mode => NULL)")
        .collect())
    assert(n2.getMessage.contains("'mode'"), n2.getMessage)
  }

  test("show_fsview: base/delta counts track compaction; partitioned per-child rows") {
    val t = new MorTable(spark, TestSpark.tmpDir("proc-fsv"), Seq("uuid"),
      compactionDeltaCommits = 100, autoCompact = false)
    graft.GraftCatalog.register(spark, "proc_fsv", t)
    t.upsert(rows(8, "a"), Seq(col("v")))
    t.upsert(rows(4, "b"), Seq(col("v")))
    def fsv() = spark.sql("CALL graft_ops.show_fsview(table => 'proc_fsv')")
      .collect().map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getInt(2), r.getLong(3), r.getInt(4), r.getInt(5), r.getLong(6)))
    val before = fsv()
    assert(before.length == 1)
    val (_, lc0, bf0, bb0, ld0, df0, db0) = before.head
    assert(lc0.isEmpty && bf0 == 0 && bb0 == 0L,
      s"no compaction yet: no base files ($before)")
    assert(ld0 == 2 && df0 >= 2 && db0 > 0L,
      s"two live delta commits with files ($before)")
    // the CALL itself schedules ZERO Spark jobs (driver-side listStatus
    // into a metadata-sized local result)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      fsv()
      Thread.sleep(300) // listener bus is async; drain briefly
      assert(jobs.get() == 0, s"show_fsview must not schedule jobs (${jobs.get()})")
    } finally spark.sparkContext.removeSparkListener(l)

    spark.sql("CALL graft_ops.run_compaction(table => 'proc_fsv', mode => 'full')").collect()
    val after = fsv()
    val (_, lc1, bf1, bb1, ld1, df1, db1) = after.head
    assert(lc1.nonEmpty && bf1 > 0 && bb1 > 0L, s"compaction publishes base files ($after)")
    assert(ld1 == 0 && df1 == 0 && db1 == 0L, s"deltas fold into the base ($after)")

    val p = new PartitionedMorTable(spark, TestSpark.tmpDir("proc-fsv-p"),
      Seq("uuid"), "kind", compactionDeltaCommits = 100, autoCompact = false)
    graft.GraftCatalog.register(spark, "proc_fsv_p", p)
    p.upsert(Seq(("id1", "x", 1L), ("id2", "y", 2L), ("id3", "x", 3L))
      .toDF("uuid", "kind", "v"), Seq(col("v")))
    val parts = spark.sql("CALL graft_ops.show_fsview(table => 'proc_fsv_p')")
      .collect().map(r => (r.getString(0), r.getInt(4)))
    assert(parts.map(_._1).toSeq == Seq("x", "y"), parts.toSeq)
    assert(parts.forall(_._2 == 1), s"one live delta per child ($parts)")
  }

  test("CALL surface on a partitioned table: due compaction, drop_partition TTL") {
    val p = PartitionedMorTable.resolve(spark, TestSpark.tmpDir("proc-part"),
      Seq("uuid"), "pt")
    graft.GraftCatalog.register(spark, "proc_p1", p)
    val batch = Seq(
      ("u1", "x", "2024-01", 1), ("u2", "y", "2024-01", 2),
      ("u3", "z", "2024-02", 3), ("u4", "w", "2024-03", 4))
      .toDF("uuid", "name", "pt", "n")
    p.upsert(batch, Seq(col("name")))
    p.upsert(batch.withColumn("name", concat(col("name"), lit("2"))),
      Seq(col("name")), batchId = 2L)

    val ack = spark.sql("CALL graft_ops.run_compaction(table => 'proc_p1', mode => 'due')")
      .collect().map(_.getString(0))
    assert(ack.length == 1)

    // partitioned z-order clustering through the same CALL verb
    val zack = spark.sql("CALL graft_ops.run_compaction(table => 'proc_p1', " +
      "mode => 'zorder', zorder_cols => 'n')").collect()
    assert(zack.head.getString(1).startsWith("zorder(n)"), zack.head.getString(1))
    assert(p.read().count() == 4, "clustering must not change the answer")

    // partition argument narrows the verb to ONE child; misses are loud
    p.upsert(batch.withColumn("name", concat(col("name"), lit("3"))),
      Seq(col("name")), batchId = 3L)
    val one = spark.sql("CALL graft_ops.run_compaction(table => 'proc_p1', " +
      "mode => 'full', partition => '2024-02')").collect()
    assert(one.head.getString(1) == "1 partitions", one.head.getString(1))
    assert(p.read().count() == 4)
    val miss = intercept[Exception](spark.sql(
      "CALL graft_ops.run_compaction(table => 'proc_p1', mode => 'full', " +
        "partition => 'nope')").collect())
    assert(miss.getMessage.contains("no partition 'nope'"), miss.getMessage)

    val commits = spark.sql("CALL graft_ops.show_commits(table => 'proc_p1')").collect()
    assert(commits.nonEmpty)

    val dropped = spark.sql(
      "CALL graft_ops.drop_partition(table => 'proc_p1', value => '2024-03')")
      .collect().map(_.getString(0))
    assert(dropped.toSeq == Seq("2024-03"))
    assert(p.partitions().sorted == Seq("2024-01", "2024-02"))
    assert(p.read().count() == 3)

    // savepoint verbs drive the PARENT-level service on the partitioned form
    spark.sql("CALL graft_ops.create_savepoint(table => 'proc_p1', name => 'pp')")
      .collect()
    p.upsert(Seq(("u9", "late", "2024-09")).toDF("uuid", "name", "pt"),
      Seq(col("name")), batchId = 9L)
    assert(p.partitions().contains("2024-09"))
    val rolled = spark.sql(
      "CALL graft_ops.restore_savepoint(table => 'proc_p1', name => 'pp')")
      .collect().head.getInt(0)
    assert(rolled >= 1)
    assert(!p.partitions().contains("2024-09"), "late-born partition must vanish")
    val sps = spark.sql("CALL graft_ops.show_savepoints(table => 'proc_p1')")
      .collect().map(_.getString(0))
    assert(sps.toSeq == Seq("pp"), "the pin itself survives the restore")
  }

  test("CALL graft_ops.show_stats: metadata-only counts, NDV and bounds, zero data jobs") {
    val t = new MorTable(spark, TestSpark.tmpDir("proc-stats"), Seq("uuid"),
      compactionDeltaCommits = 100, autoCompact = false)
    graft.GraftCatalog.register(spark, "proc_stats_t", t)
    t.upsert(rows(8, "a"), Seq(col("v")))
    def stats() = spark.sql("CALL graft_ops.show_stats(table => 'proc_stats_t')")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // pre-boundary: no exact count (a real count would scan), estimate OK
    val pre = stats()
    assert(!pre.exists(_._1 == "exact_live_rows"))
    assert(pre.exists(s => s._1 == "est_live_rows" && s._3 == "8"))
    t.compactZOrder(Seq("v")) // declares v a stat column (NDV/bounds)
    val post = stats()
    assert(post.contains(("exact_live_rows", "", "8")), post.toSeq)
    assert(post.contains(("min", "v", "1.0")) && post.contains(("max", "v", "8.0")),
      post.toSeq)
    assert(post.exists(s => s._1 == "ndv" && s._2 == "v"),
      "declared stat column must report an NDV estimate")
    // tombstones: the exact count excludes them after the next boundary
    t.deleteWhere(col("uuid") === "id3")
    t.compact()
    assert(stats().contains(("exact_live_rows", "", "7")))
  }

  test("CALL graft_ops.bootstrap routes to the partitioned form on a partitioned table") {
    val ext = TestSpark.tmpDir("proc-boot-src")
    Seq(("u1", 1, "2024-01"), ("u2", 2, "2024-01"), ("u3", 3, "2024-02"))
      .toDF("uuid", "n", "pt").write.partitionBy("pt")
      .mode("overwrite").parquet(ext)
    val path = TestSpark.tmpDir("proc-boot-part")
    val p = PartitionedMorTable.resolve(spark, path, Seq("uuid"), "pt")
    graft.GraftCatalog.register(spark, "proc_boot_p", p)
    val ack = spark.sql(
      s"CALL graft_ops.bootstrap(table => 'proc_boot_p', source => '$ext')")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(ack.toSeq == Seq(("bootstrapped", ext)))
    // zero-copy per child + readable through the SQL surface
    assert(p.partitions() == Seq("2024-01", "2024-02"))
    p.partitions().foreach(v =>
      assert(!new java.io.File(s"$path/p=$v/base").exists()))
    assert(spark.sql("SELECT count(*) FROM proc_boot_p").head().getLong(0) == 3)
  }
  test("CALL refresh_materialized_view / show_materialized_views: the ops " +
      "surface of the MV lifecycle") {
    val basePath = TestSpark.tmpDir("proc-mvb")
    val viewPath = TestSpark.tmpDir("proc-mvv")
    val t = MorTable(spark, basePath, Seq("uuid"), compactionDeltaCommits = 100)
    graft.GraftCatalog.register(spark, "proc_mv_t", t)
    t.upsert(Seq(("id1", "a", 1L), ("id2", "a", 2L), ("id3", "b", 3L))
      .toDF("uuid", "g", "v"), Seq(col("v")))
    // declare programmatically on the same persistence plane the DDL uses
    val spec = MatViews.build(spark, basePath, Seq("uuid"), None,
      MatViews.ViewSpec("mv1", viewPath, Seq("g"),
        Seq(MatViews.MeasureSpec("count", ""), MatViews.MeasureSpec("sum", "v")), 0L))
    assert(spec.maintainedSeq == 1L)
    val shown0 = spark.sql(
      "CALL graft_ops.show_materialized_views(table => 'proc_mv_t')")
      .collect().map(r => (r.getString(0), r.getLong(3), r.getString(4)))
    assert(shown0.toSeq == Seq(("mv1", 1L, "true")))
    // a new commit → stale in the listing; CALL refresh brings it back
    t.upsert(Seq(("id4", "b", 4L)).toDF("uuid", "g", "v"), Seq(col("v")))
    assert(spark.sql(
      "CALL graft_ops.show_materialized_views(table => 'proc_mv_t')")
      .collect().head.getString(4) == "false")
    val ack = spark.sql(
      "CALL graft_ops.refresh_materialized_view(table => 'proc_mv_t')")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(ack.toSeq == Seq(("refreshed", "mv1 -> seq 2")))
    assert(spark.sql(
      "CALL graft_ops.show_materialized_views(table => 'proc_mv_t')")
      .collect().head.getString(4) == "true")
    // the refreshed view table holds the updated groups
    val vt = MorTable.resolve(spark, viewPath, Seq("g"))
    assert(vt.read().collect().map(r => (r.getAs[String]("g"),
      r.getAs[Long]("n"), r.getAs[Long]("sum_v"))).toSet ==
      Set(("a", 2L, 3L), ("b", 2L, 7L)))
    // unknown view name refused loudly
    intercept[Exception](spark.sql(
      "CALL graft_ops.refresh_materialized_view(table => 'proc_mv_t', name => 'nope')")
      .collect())
  }

  test("CALL on a partitioned table: create_record_index, show_files, " +
      "export_snapshot and clone_table cover every child") {
    val p = new PartitionedMorTable(spark, TestSpark.tmpDir("proc-pfiles"),
      Seq("uuid"), "kind", compactionDeltaCommits = 100, autoCompact = false)
    graft.GraftCatalog.register(spark, "proc_pfiles", p)
    p.upsert(Seq(("id1", "x", 1L), ("id2", "y", 2L), ("id3", "x", 3L),
      ("id4", "y", 4L)).toDF("uuid", "kind", "v"), Seq(col("v")))
    // the record index describes a compacted base: refused before one
    intercept[IllegalStateException](spark.sql(
      "CALL graft_ops.create_record_index(table => 'proc_pfiles')").collect())
    val cack = spark.sql(
      "CALL graft_ops.run_compaction(table => 'proc_pfiles', mode => 'full')")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(cack.toSeq == Seq(("compacted", "2 partitions")))
    val iack = spark.sql(
      "CALL graft_ops.create_record_index(table => 'proc_pfiles')")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(iack.toSeq == Seq(("indexed", "2 partitions")))
    assert(p.partitions().forall(v => p.child(v).hasRecordIndex()))

    // show_files lists every child's base files, sorted, with key bounds
    val files = spark.sql("CALL graft_ops.show_files(table => 'proc_pfiles')")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val want = p.partitions().flatMap(v => p.child(v).manifestFileStats())
      .map { case (f, mn, mx) => (f, mn.orNull, mx.orNull) }.sortBy(_._1)
    assert(files == want, files)
    assert(files.map(_._1).exists(_.contains("p=x")) &&
      files.map(_._1).exists(_.contains("p=y")), files)
    assert(files.forall(f => f._1.endsWith(".parquet") && f._2 != null &&
      f._2 <= f._3), files)

    // export_snapshot writes the merged snapshot of every child
    val exportDir = graft.TempDirs.create("proc-pexport") + "/snap"
    val exported = spark.sql(
      s"CALL graft_ops.export_snapshot(table => 'proc_pfiles', path => '$exportDir')")
      .collect().head.getLong(0)
    assert(exported == 4L)
    assert(spark.read.parquet(exportDir).select("uuid", "kind", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
      p.read().select("uuid", "kind", "v").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet)

    // clone_table: a zero-copy partitioned clone with the same rows
    val dst = TestSpark.tmpDir("proc-pclone") + "/dst"
    val clack = spark.sql(
      s"CALL graft_ops.clone_table(table => 'proc_pfiles', dst => '$dst')")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(clack.toSeq == Seq(("cloned", dst)))
    val c = PartitionedMorTable.resolve(spark, dst, Seq("uuid"), "kind")
    assert(c.partitions() == Seq("x", "y"))
    assert(c.read().select("uuid", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("id1", 1L), ("id2", 2L), ("id3", 3L), ("id4", 4L)))
  }

  test("OPTIMIZE, VACUUM and SHOW INDEXES on a partitioned graft.mor table") {
    val path = TestSpark.tmpDir("proc-opt-part")
    def write(rs: Seq[(String, String, Int)]): Unit =
      rs.toDF("uuid", "pt", "n").write.format("graft.mor").option("path", path)
        .option("keys", "uuid").option("partition", "pt")
        .option("compaction.delta_commits", "100").mode("append").save()
    write(Seq(("u1", "a", 1), ("u2", "b", 2), ("u3", "a", 3)))
    write(Seq(("u4", "b", 4), ("u1", "a", 10)))
    spark.sql("CREATE TABLE proc_opt_pt USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'uuid', partition 'pt')")
    try {
      val p = PartitionedMorTable.resolve(spark, path, Seq("uuid"), "pt")
      def compacts(v: String) = p.child(v).timeline().count(_.kind == "compact")
      def baseDirs(v: String) = new java.io.File(s"$path/p=$v/base").list().length
      assert(spark.sql("SHOW INDEXES ON proc_opt_pt").collect().isEmpty)
      spark.sql("OPTIMIZE proc_opt_pt")
      assert(p.partitions().map(compacts) == Seq(1, 1), "OPTIMIZE compacts every child")
      assert(p.readOptimized().count() == 4)
      write(Seq(("u5", "a", 5), ("u2", "b", 20)))
      spark.sql("OPTIMIZE proc_opt_pt ZORDER BY (n)")
      assert(p.partitions().map(compacts) == Seq(2, 2), "ZORDER re-clusters every child")
      assert(p.readOptimized().count() == 5)
      assert(p.partitions().forall(baseDirs(_) == 2))
      spark.sql("VACUUM proc_opt_pt")
      assert(p.partitions().forall(baseDirs(_) == 1), "VACUUM cleans every child")
      spark.sql("CREATE INDEX record_index ON proc_opt_pt")
      val idx = spark.sql("SHOW INDEXES ON proc_opt_pt").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      assert(idx.toSeq == Seq(("record_index", "record_level", "uuid", "a"),
        ("record_index", "record_level", "uuid", "b")), idx.toSeq)
      assert(spark.sql("SELECT sum(n) FROM proc_opt_pt").head().getLong(0) == 42L)
    } finally spark.sql("DROP TABLE IF EXISTS proc_opt_pt")
  }

  test("partition-scoped CALLs on an unpartitioned table are refused") {
    val t = MorTable(spark, TestSpark.tmpDir("proc-nopart"), Seq("uuid"))
    graft.GraftCatalog.register(spark, "proc_nopart", t)
    t.upsert(rows(3, "a"), Seq(col("v")))
    val e = intercept[IllegalArgumentException](spark.sql(
      "CALL graft_ops.drop_partition(table => 'proc_nopart', value => 'x')").collect())
    assert(e.getMessage == "drop_partition needs a partitioned table", e.getMessage)
    val c = intercept[IllegalArgumentException](spark.sql(
      "CALL graft_ops.run_compaction(table => 'proc_nopart', partition => 'x')").collect())
    assert(c.getMessage.contains("partition argument needs a partitioned table"),
      c.getMessage)
    assert(t.read().count() == 3)
  }
}
