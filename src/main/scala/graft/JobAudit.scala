package graft

import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable

/** Scratch diagnostic: replay one gate entry with a job listener and print
  * per-call-site job counts (which code paths spend the suite's jobs). */
object JobAudit {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", TempDirs.sparkLocalDir())
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sites = mutable.Map.empty[String, Int].withDefaultValue(0)
    val stageTime = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val stageCnt = mutable.Map.empty[String, Int].withDefaultValue(0)
    val execStart = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
    // attached after the warm-up runs below: only the reported run counts
    val stats = new JobStats {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        super.onJobStart(j)
        val site = j.stageInfos.map(_.name).map(n =>
          if (n.contains("CompletableFuture")) "fut" else n)
          .distinct.sorted.mkString(" | ")
        sites.synchronized { sites(site) += 1 }
        // fut detail: the deepest graft frame of each stage + the job group
        val det = j.stageInfos.map(_.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("JobAudit"))
          .map(_.trim.stripPrefix("at ")).getOrElse("?")).distinct.sorted.mkString(" | ")
        val exec = Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).getOrElse("-")
        val root = Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.root.id"))).getOrElse("-")
        val stages = j.stageInfos.map(_.name.takeWhile(_ != ' ')).sorted
          .groupBy(identity).map { case (k, v) => s"$k×${v.size}" }.mkString(",")
        sites.synchronized { sites(s"DETAIL[e=$exec r=$root] [$stages] $det") += 1 }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val frame = s.stageInfo.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("JobAudit"))
          .map(_.trim.stripPrefix("at "))
          .getOrElse(s.stageInfo.rddInfos
            .flatMap(r => Option(r.callSite)).filter(c => c.nonEmpty)
            .distinct.sorted.mkString("; ") match {
              case "" => s.stageInfo.name
              case cs => cs
            })
        stageTime.synchronized {
          stageTime(frame) += s.stageInfo.taskMetrics.executorRunTime
          stageCnt(frame) += 1
        }
      }
      // per-SQL-execution wall + top plan node: where the driver's planning/
      // execution round-trips go inside one entry (descriptions are empty on
      // AQE stage futures, so job-level traces can't attribute them)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execStart.put(s.executionId,
            (s.time, s.physicalPlanDescription.linesIterator
              .filter(_.nonEmpty).take(3).mkString(" | ").take(180)))
          ()
        case en: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
          Option(execStart.get(en.executionId)).foreach { case (t0, desc) =>
            System.err.println(f"SQLEXEC id=${en.executionId} ms=${en.time - t0}%5d  $desc")
          }
        case _ => ()
      }
    }
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // SPARK_GRAFT_AUDIT=<gate entry name> audits that entry; default s8 core
    val fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      sys.env.get("SPARK_GRAFT_AUDIT") match {
        case Some(name) => SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown gate entry $name"))
        case None => (s, d) => graft.streaming.PipelineQueries.ticketView(s, d)
      }
    // SPARK_GRAFT_AUDIT_REPEAT=2 → run the entry N times, report the LAST
    // (JIT-warm) run — the stable per-execution numbers for bisection
    val repeats = sys.env.get("SPARK_GRAFT_AUDIT_REPEAT").flatMap(_.toIntOption).getOrElse(1)
    var i = 1
    while (i < repeats) {
      fn(spark, dir).count(); System.err.println(s"--- warmup run $i done ---"); i += 1
    }
    JobStats.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(stats)
    val t0 = System.currentTimeMillis()
    val n = fn(spark, dir).count()
    val wallMs = System.currentTimeMillis() - t0
    JobStats.drain(spark.sparkContext)
    val covered = JobStats.coveredMs(stats.spans)
    println(s"WALLMS=$wallMs JOBCOVEREDMS=$covered DRIVERONLYMS=${wallMs - covered}")
    println(s"ROWS=$n TOTALJOBS=${stats.jobs}")
    sites.toSeq.sortBy(-_._2).foreach { case (s, c) => println(f"$c%4d  $s") }
    println("== stage executorRunTime ms (count) ==")
    stageTime.toSeq.sortBy(-_._2).take(20).foreach { case (s, t) =>
      println(f"$t%8d  (${stageCnt(s)}%3d)  $s")
    }
    spark.stop()
  }
}
