package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.GraftSqlShim
import scala.collection.mutable

/** The one Spark listener graft's diagnostics share (`Bench`'s JOBSTATS
  * line, `JobAudit`, the job-budget spec): jobs started, summed task run
  * time, and the wall span of every finished job. Call [[JobStats.drain]]
  * before reading. A diagnostic needing more detail overrides a callback
  * and calls `super`. */
class JobStats extends SparkListener {
  private val jobCount = new AtomicLong
  private val taskMs = new AtomicLong
  private val startMs = mutable.Map.empty[Int, Long]
  private val spanBuf = mutable.ArrayBuffer.empty[(Long, Long)]

  def jobs: Long = jobCount.get()
  def taskTimeMs: Long = taskMs.get()
  /** (start, end) epoch ms of every finished job. */
  def spans: Seq[(Long, Long)] = synchronized(spanBuf.toList)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobCount.incrementAndGet()
    synchronized { startMs(j.jobId) = j.time }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    startMs.remove(e.jobId).foreach(s => spanBuf += ((s, e.time)))
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null) { taskMs.addAndGet(t.taskMetrics.executorRunTime); () }
}

object JobStats {
  /** Block until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = GraftSqlShim.drainListenerBus(sc)

  /** Wall time covered by at least one running job: overlapping spans
    * merged, so the rest of a call's wall is driver-only work (planning,
    * file-system metadata, scheduling). */
  def coveredMs(spans: Seq[(Long, Long)]): Long =
    spans.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, span) => span :: acc
    }.map(x => x._2 - x._1).sum
}
