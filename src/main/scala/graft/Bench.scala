package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftSqlShim

/** Benchmark main (driver contract): run every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  *
  * - one warm-up action first so JIT/codegen/session startup isn't billed
  *   to the first query;
  * - a failed query reports {"err": …} and is EXCLUDED from `total`
  *   (a crash must never masquerade as a fast run);
  * - shuffle partitions default to 32 (local[32] harness; override via
  *   SPARK_GRAFT_CPUS).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", TempDirs.sparkLocalDir())
      // single bounded run: the ContextCleaner's post-GC cleanup storms
      // (RemoveShuffle/RemoveBroadcast RPCs through the block-manager
      // endpoint) stalled every query that ran after an allocation-heavy
      // one — a 52-query suite degraded ~2x mid-run. Scratch is reclaimed
      // at JVM exit anyway; long-running services keep the cleaner ON.
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: spin executors, JIT the scan/agg paths, load parquet footers
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.customer(spark, sfDir).count()

    def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

    // per-query GC time + free memory: a co-tenant-contaminated run (host
    // memory pressure, CPU steal) shows up as huge gc_ms / tiny free_mb on
    // otherwise-trivial queries, so a bad driver artifact is self-diagnosing.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum
    }
    def freeMb(): Long = {
      val rt = Runtime.getRuntime
      (rt.maxMemory - rt.totalMemory + rt.freeMemory) / (1024 * 1024)
    }

    // SPARK_GRAFT_ONLY=s8_cdc_ticket_view,t11_decontaminate → bench just
    // those entries (local bisection; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    // SPARK_GRAFT_REPEAT=3 → run the selection N times (suffix #2, #3 …);
    // later iterations are JIT-warm, the stable numbers for A/B bisection
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").flatMap(_.toIntOption).getOrElse(1)
    val selected0 = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val selected = (1 to repeat).flatMap { i =>
      selected0.map { case (n, fn) => (if (i == 1) n else s"$n#$i", fn) }
    }
    // SPARK_GRAFT_JOBSTATS=1 → per-query Spark job count, summed task run
    // time and code-generator compilations (deterministic across runs,
    // unlike wall clock — the A/B signal for perf bisection on a noisy
    // host; job counts alone hide the driver's Janino compile time)
    val jobStats = sys.env.get("SPARK_GRAFT_JOBSTATS").contains("1")
    val stats =
      if (!jobStats) None
      else Some(new JobStats {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          super.onJobStart(j)
          if (sys.env.get("SPARK_GRAFT_JOBTRACE").contains("1"))
            System.err.println(s"JOBTRACE ${j.jobId} stages=${j.stageInfos.size} " +
              Option(j.properties.getProperty("spark.job.description"))
                .orElse(Option(j.properties.getProperty("callSite.short")))
                .getOrElse("?").replace('\n', ' ').take(140))
        }
      })
    stats.foreach(spark.sparkContext.addSparkListener)
    val results = selected.map { case (name, fn) =>
      val gc0 = gcMillis()
      val (j0, tt0) = stats.fold((0L, 0L))(s => (s.jobs, s.taskTimeMs))
      val c0 = GraftSqlShim.codegenCompilations()
      val t0 = System.nanoTime()
      val outcome =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.toString).take(200)) }
      val sec = (System.nanoTime() - t0) / 1e9
      stats.foreach { st =>
        JobStats.drain(spark.sparkContext)
        System.err.println(s"JOBSTATS $name jobs=${st.jobs - j0} " +
          s"taskTimeMs=${st.taskTimeMs - tt0} " +
          s"compiles=${GraftSqlShim.codegenCompilations() - c0} " +
          s"wallSec=$sec")
      }
      (name, sec, outcome, gcMillis() - gc0, freeMb())
    }
    def fmtQueries(render: Double => String, sel: ((String, Double, Option[String], Long, Long)) => Boolean) =
      results.filter(sel).map {
        case (n, sec, None, _, _) => s"${q(n)}:${render(sec)}"
        case (n, _, Some(err), _, _) => s"${q(n)}:{${q("err")}:${q(err)}}"
      }.mkString("{", ",", "}")
    val qs = fmtQueries(_.toString, _ => true)
    val diag = results.map { case (n, _, _, gc, free) =>
      s"${q(n)}:{${q("gc_ms")}:$gc,${q("free_mb")}:$free}"
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, sec, None, _, _) => sec }.sum
    val nFailed = results.count(_._3.isDefined)
    // The harness captures a bounded TAIL of stdout (~8 KB observed: r14's
    // 8.2 KB full-precision map line was truncated by ~150 bytes and the
    // driver's per_query came back empty). Layout, least→most important so
    // the window keeps the critical lines:
    //   1. diag line (humans; huge, may fall out of the window),
    //   2. per-family 3-decimal maps ({"metric":"queries","part":…} —
    //      insurance: each is <2.3 KB so SOME per-query data survives even
    //      a smaller window),
    //   3. ONE compact 3-decimal full map line (~5.6 KB at 218 entries —
    //      fits the window; this is what the driver's per_query parser
    //      reads),
    //   4. the SHORT summary line LAST (the driver's total parser).
    // Full-precision map + diag stay in bench_out/BENCH_LAST.json
    // (authoritative record). Rounding the stdout copy to 3 decimals is a
    // measurement-REPORTING change only (sub-millisecond truncation); the
    // timed loop, entry set and methodology are unchanged.
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val diagLine = s"""{"metric":"diag","gc_free_by_query":$diag,"sf":${q(sfDir)}}"""
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$nFailed,"sf":${q(sfDir)}}"""
    val familyLines = results.map(_._1.take(1)).distinct.sorted.map { fam =>
      val m = fmtQueries(r3, _._1.startsWith(fam))
      s"""{"metric":"queries","part":${q(fam)},"queries":$m,"sf":${q(sfDir)}}"""
    }
    val compactLine = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${fmtQueries(r3, _ => true)},"failed":$nFailed,"sf":${q(sfDir)}}"""
    val summaryLine = s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFailed,"n":${results.size},"sf":${q(sfDir)}}"""
    try {
      val dir = java.nio.file.Paths.get("bench_out")
      java.nio.file.Files.createDirectories(dir)
      // an ISOLATED run (SPARK_GRAFT_ONLY bisection) must never clobber
      // the authoritative full-suite map — the round-end copy to
      // BENCH_r<N>_full.json reads BENCH_LAST.json, and r13 shipped a
      // 1-entry map because an isolated re-run overwrote it
      val fname = if (only.isDefined) "BENCH_ONLY_LAST.json" else "BENCH_LAST.json"
      java.nio.file.Files.write(dir.resolve(fname),
        (fullLine + "\n" + diagLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException => () } // stdout stays authoritative
    println(diagLine)
    familyLines.foreach(println)
    println(compactLine)
    println(summaryLine)
    spark.stop()
  }
}
