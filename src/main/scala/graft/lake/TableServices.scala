package graft.lake

import java.util.concurrent.{Executors, ScheduledExecutorService, ScheduledFuture, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

/** Async table services — the Hudi async-compaction / async-clean runner
  * (Hudi's `compaction.async.enabled` table service; the reference's Flink
  * job compacts its Hudi sinks asynchronously while the pipeline keeps
  * committing deltas, `CDC-Hudi-Notebook.zpln:292` declares the cadence).
  *
  * The service is deliberately a THIN scheduler: all concurrency safety
  * lives in the table — compaction racing a live writer is covered by the
  * OCC seq claim + `unfolded` straggler protocol (MultiWriterSpec), and
  * `clean()` racing a reader fails loudly or stays consistent, never a
  * partial merge. So a background thread calling `maybeCompact()`/`clean()`
  * needs no additional locking beyond the table's own `synchronized`
  * sections, and an uncoordinated foreground writer on the SAME handle or
  * another handle/process remains correct by the table's contract.
  *
  * Failure policy: a failed cycle records the error ([[lastError]]) and the
  * service keeps its cadence — one bad compaction attempt (e.g. transient
  * FS) must not silently stop all future compactions. Callers decide when
  * to surface the error. `runOnce()` is public so tests and orchestrators
  * can drive a deterministic cycle without the timer.
  *
  * Scale shape: the service itself does O(1) driver work per tick (one
  * timeline listing via `compactionDue`); actual compaction cost is the
  * table's own (minor/full). One service thread can watch many tables —
  * build one [[TableServices]] per table and share nothing, or schedule
  * them on the caller's own executor via `runOnce()`.
  */
final class TableServices private (
    cycle: () => Boolean,
    periodMs: Long) extends AutoCloseable {

  private val compactions = new AtomicInteger(0)
  private val errRef = new AtomicReference[Option[Throwable]](None)
  @volatile private var exec: Option[ScheduledExecutorService] = None
  @volatile private var task: Option[ScheduledFuture[_]] = None

  /** Most recent cycle failure, if any (cleared by the next success). */
  def lastError: Option[Throwable] = errRef.get()

  /** Number of cycles that actually compacted something. */
  def compactionsRun: Int = compactions.get()

  /** One service cycle: compact if due (then clean, when configured).
    * Returns true iff a compaction ran. Never throws — see failure policy. */
  def runOnce(): Boolean =
    try {
      val did = cycle()
      if (did) compactions.incrementAndGet()
      errRef.set(None)
      did
    } catch {
      case e: Throwable =>
        errRef.set(Some(e))
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn("async table-service cycle failed (service continues)", e)
        false
    }

  /** Start the background timer (idempotent). Daemon thread — never blocks
    * JVM exit; call [[close]] for an orderly stop. */
  def start(): this.type = synchronized {
    if (exec.isEmpty) {
      val e = Executors.newSingleThreadScheduledExecutor { r =>
        val th = new Thread(r, "graft-table-service")
        th.setDaemon(true)
        th
      }
      // fixed DELAY, not fixed rate: a compaction longer than the period
      // must not queue a burst of immediate re-runs behind itself
      task = Some(e.scheduleWithFixedDelay(() => { runOnce(); () },
        periodMs, periodMs, TimeUnit.MILLISECONDS))
      exec = Some(e)
    }
    this
  }

  /** Stop the timer; an in-flight cycle finishes (table ops are atomic at
    * commit granularity, so interrupting mid-compaction is never needed —
    * an unpublished staging dir is simply ignored by readers). */
  override def close(): Unit = synchronized {
    task.foreach(_.cancel(false))
    exec.foreach { e => e.shutdown(); e.awaitTermination(60, TimeUnit.SECONDS); () }
    task = None
    exec = None
  }
}

object TableServices {
  /** Service around a caller-supplied cycle (custom maintenance: savepoint
    * rotation, manifest export, multi-table coordination). The thunk
    * returns whether it did work this tick. */
  def custom(cycle: () => Boolean, periodMs: Long = 60000L): TableServices =
    new TableServices(cycle, periodMs)

  /** Service for one table: num_or_time compaction check each tick — a
    * partitioned table compacts its due children in ONE batched staged
    * write ([[PartitionedMorTable.maybeCompact]]); `cleanEvery` > 0
    * additionally runs [[LakeTable.clean]] after every Nth compaction (0 =
    * never — the safe default when multi-table batches may still
    * recovery-read old deltas). `zorderCols` + `clusterEvery` > 0 turn
    * every Nth COMPACTING tick into a z-order clustering compaction of what
    * is due (the Hudi async-clustering analog — same due-trigger, different
    * layout; partitioned: O(churned partitions)); `savepointTtlMs` > 0
    * releases stale savepoint pins each tick (savepoint-TTL
    * housekeeping). */
  def apply(t: LakeTable, periodMs: Long = 60000L, cleanEvery: Int = 0,
            zorderCols: Seq[String] = Nil, clusterEvery: Int = 0,
            savepointTtlMs: Long = 0L): TableServices = {
    val sinceClean = new AtomicInteger(0)
    val compacting = new AtomicInteger(0)
    new TableServices(() => {
      if (savepointTtlMs > 0) { t.releaseSavepointsOlderThan(savepointTtlMs); () }
      val clusterTick = zorderCols.nonEmpty && clusterEvery > 0 &&
        (compacting.get() + 1) % clusterEvery == 0
      val did = t.compactIfDue(if (clusterTick) zorderCols else Nil)
      if (did) compacting.incrementAndGet()
      if (did && cleanEvery > 0 && sinceClean.incrementAndGet() >= cleanEvery) {
        sinceClean.set(0)
        t.clean()
      }
      did
    }, periodMs)
  }

  /** Service that keeps a base table's DECLARED materialized views FRESH
    * (the async-maintenance analog of `REFRESH MATERIALIZED VIEW` — Hudi's
    * async table services applied to the MV plane): each tick reads the
    * persisted declarations ([[MatViews.readSpecs]], one metadata file),
    * and every view whose watermark trails the live timeline gets ONE
    * affected-group refresh cycle — O(changes since its watermark), so a
    * busy dashboard table converges at the tick cadence while idle tables
    * cost one fs read per tick. Returns did-work per the service contract;
    * a failed refresh records in [[TableServices.lastError]] and the
    * cadence continues. Run standalone or alongside the compaction
    * service — refresh and compaction commute (the changelog algebra reads
    * through compaction boundaries). */
  def matViews(spark: org.apache.spark.sql.SparkSession, t: LakeTable,
               periodMs: Long = 60000L): TableServices =
    custom(() => {
      val live = t.commits().lastOption.map(_.seq).getOrElse(0L)
      val stale = MatViews.readSpecs(spark, t.path)
        .filter(_.maintainedSeq != live)
      stale.foreach(s => MatViews.refresh(spark, t.path, t.keyCols, t.partitionCol, s))
      stale.nonEmpty
    }, periodMs)

  /** Service wired from the table's PERSISTED policy (the `CREATE TABLE …
    * WITH (…)` declaration surface): clustering columns/cadence, clean
    * cadence and savepoint TTL all come from `manifest/policy.json`, so
    * the maintenance daemon a deployment runs needs only the table path —
    * exactly how the reference declares compaction on its Hudi sinks
    * (zpln:292). */
  def fromPolicy(spark: org.apache.spark.sql.SparkSession, t: LakeTable,
                 periodMs: Long = 60000L): TableServices = {
    val pol = MorTable.readPolicy(spark, t.path).getOrElse(MorTable.Policy())
    apply(t, periodMs, pol.cleanEvery, pol.zorderCols, pol.clusterEvery,
      pol.savepointTTLSeconds * 1000L)
  }
}
