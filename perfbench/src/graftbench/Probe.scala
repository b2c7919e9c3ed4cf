package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark operation: a write or read of the timed phase, or a
  * set-up / warm-up step. Times are wall-clock epoch milliseconds, the clock
  * Spark's listener events carry. */
final class Op(val id: Int, val kind: String, val startMs: Long) {
  @volatile var endMs: Long = 0L
  var gcMs: Long = 0L
  var ruleNs: Long = 0L
  var progress: Option[StreamingQueryProgress] = None
}

/** Everything the benchmark learns from outside the engine, through Spark's
  * public listener interfaces.
  *
  * Always on (cheap, needed by the deterministic-work guard): Spark jobs per
  * operation. A job belongs to the operation named by its `graftbench.op`
  * local property (main-thread statements) or, for micro-batch jobs, by its
  * `streaming.sql.batchId` property through the batch the operation waits
  * for.
  *
  * Traced runs add stages, tasks, SQL executions with their plan metrics,
  * statement planning phases, catalyst rule time, GC time, and spans. */
final class Probe(spark: SparkSession, val traced: Boolean) extends SparkListener {
  private val sc = spark.sparkContext
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val batchOp = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()

  final case class JobRec(id: Int, op: Int, start: Long, var end: Long, exec: Long,
                          batch: Long)
  final case class ExecRec(id: Long, start: Long, var end: Long, var plan: SparkPlanInfo)
  final case class StmtRec(phases: Map[String, (Long, Long)], end: Long)

  // listener-bus state; read only after drain()
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val taskMs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  private val tasks = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  private val stages = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  private val shuffleBytes = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  private val stageTask = mutable.HashMap.empty[Int, Long].withDefaultValue(0L) // stage -> task ms
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  private val accumValue = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  private val stmts = mutable.ArrayBuffer.empty[StmtRec]

  sc.addSparkListener(this)
  if (traced) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    if (ph.contains("parsing")) stmts.synchronized {
      stmts += StmtRec(ph, System.currentTimeMillis())
    }
  }

  // ------------------------------------------------------------ operations

  def begin(kind: String): Op = {
    val op = ops.synchronized {
      val o = new Op(ops.size, kind, System.currentTimeMillis())
      ops += o
      o
    }
    sc.setLocalProperty(Probe.OpKey, op.id.toString)
    if (traced) { op.gcMs = -Probe.gcMs(); op.ruleNs = -Probe.graftRuleNs() }
    op
  }

  def end(op: Op): Unit = {
    op.endMs = System.currentTimeMillis()
    sc.setLocalProperty(Probe.OpKey, null)
    if (traced) { op.gcMs += Probe.gcMs(); op.ruleNs += Probe.graftRuleNs() }
  }

  /** Jobs of streaming batch `batchId` belong to `op`. Bind before the
    * segment that triggers the batch is published. */
  def bindBatch(batchId: Long, op: Op): Unit = { batchOp.put(batchId, op.id); () }

  def drain(): Unit = org.apache.spark.graftbench.BusSync.drain(sc)

  // ---------------------------------------------------------- listener side

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val batch = prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L)
    // micro-batch jobs first: the stream thread inherited the op property
    // of whatever ran on the main thread when the query started
    val op = (if (batch >= 0) Option(batchOp.get(batch)).map(_.intValue) else None)
      .orElse(prop(Probe.OpKey).map(_.toInt)).getOrElse(-1)
    jobs += JobRec(e.jobId, op, e.time, e.time,
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), batch)
    if (traced) e.stageIds.foreach { s => stageOp(s) = op; stageJob(s) = e.jobId }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (traced) stageOp.get(e.stageInfo.stageId).foreach(op => stages(op) += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) {
    val op = stageOp.getOrElse(e.stageId, -1)
    tasks(op) += 1
    taskMs(op) += e.taskInfo.duration
    stageTask(e.stageId) += e.taskInfo.duration
    Option(e.taskMetrics).foreach(m => shuffleBytes(op) += m.shuffleWriteMetrics.bytesWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (traced) e match {
    case s: SparkListenerSQLExecutionStart =>
      execs(s.executionId) = ExecRec(s.executionId, s.time, s.time, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      execs.get(u.executionId).foreach(_.plan = u.sparkPlanInfo)
    case d: SparkListenerDriverAccumUpdates =>
      d.accumUpdates.foreach { case (id, v) => accumValue(id) += v }
    case x: SparkListenerSQLExecutionEnd =>
      execs.get(x.executionId).foreach(_.end = x.time)
    case _ =>
  }

  // ------------------------------------------------------------- results

  def allOps: Seq[Op] = ops.synchronized(ops.toList)

  /** Spark jobs per operation id (all runs). */
  def jobsByOp: Map[Int, Int] = jobs.groupBy(_.op).map { case (k, v) => k -> v.size }

  private def opAt(t: Long): Int =
    allOps.find(o => t >= o.startMs && t <= math.max(o.endMs, o.startMs)).map(_.id).getOrElse(-1)

  private def execOp(x: ExecRec): Int =
    jobs.find(j => j.exec == x.id && j.op >= 0).map(_.op).getOrElse(opAt(x.start))

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)

  private def metric(x: ExecRec, node: SparkPlanInfo => Boolean, name: String): Long =
    nodes(x.plan).filter(node).flatMap(_.metrics).filter(_.name == name)
      .map(m => accumValue(m.accumulatorId)).sum

  private def writeKind(x: ExecRec): Option[String] =
    nodes(x.plan).map(_.simpleString).find(_.contains("InsertIntoHadoopFsRelationCommand"))
      .flatMap { s =>
        // compaction stages under `.staging-compact-*` / `.staging/compact-*`;
        // delta commits write `delta/<seq>` or a partitioned `.staging/<token>`
        if (s.contains("compact") || s.contains("/base/")) Some("compact")
        else if (s.contains("/delta/") || s.contains("/.staging/")) Some("commit")
        else None
      }

  private def isScan(n: SparkPlanInfo) = n.nodeName.startsWith("Scan ")
  private def isWrite(n: SparkPlanInfo) = n.nodeName.contains("InsertIntoHadoopFsRelationCommand")

  private def phase(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** Per-layer metrics: means per operation of each kind over `timed`. */
  def layerMetrics(timed: Seq[Op]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val execByOp = execs.values.toSeq.groupBy(execOp)
    for (kind <- Seq("write", "read")) {
      val os = timed.filter(_.kind == kind)
      val n = math.max(1, os.size).toDouble
      val ids = os.map(_.id).toSet
      def per(v: Double) = v / n
      def sumOp(m: collection.Map[Int, Long]) = ids.toSeq.map(m.getOrElse(_, 0L)).sum.toDouble
      val myJobs = jobs.filter(j => ids(j.op))
      val myExecs = ids.toSeq.flatMap(i => execByOp.getOrElse(i, Nil))
      if (kind == "write") {
        val progs = os.flatMap(_.progress)
        out("sources.offset_ms.write") = per(progs.map(p =>
          phase(p, "latestOffset") + phase(p, "walCommit") + phase(p, "commitOffsets")).sum)
        out("sources.plan_ms.write") = per(progs.map(p =>
          phase(p, "getBatch") + phase(p, "queryPlanning")).sum)
        out("sources.rows.write") = per(progs.map(_.numInputRows).sum.toDouble)
        val streamJobs = myJobs.filter(_.batch >= 0)
        val streamIds = streamJobs.map(_.id).toSet
        out("streaming.batch_ms.write") = per(progs.map(phase(_, "addBatch")).sum)
        out("streaming.jobs.write") = per(streamJobs.size)
        out("streaming.task_ms.write") = per(stageJob.collect {
          case (st, j) if streamIds(j) => stageTask(st)
        }.sum.toDouble)
        out("streaming.sql_execs.write") = per(if (progs.isEmpty) 0 else myExecs.size)
        out("streaming.driver_ms.write") = per(os.flatMap(o => o.progress.map { p =>
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          val wall = phase(p, "triggerExecution")
          val js = myJobs.filter(j => j.op == o.id && j.batch == p.batchId).map(j => (j.start, j.end)).toSeq
          (wall - Probe.covered(js, start, start + wall)).toDouble
        }).sum)
      }
      val commits = myExecs.filter(x => writeKind(x).contains("commit"))
      val compacts = myExecs.filter(x => writeKind(x).contains("compact"))
      out(s"lake.commit_ms.$kind") = per(commits.map(x => x.end - x.start).sum.toDouble)
      out(s"lake.commits.$kind") = per(commits.size)
      out(s"lake.commit_files.$kind") = per(commits.map(metric(_, isWrite, "number of written files")).sum.toDouble)
      out(s"lake.commit_bytes.$kind") = per(commits.map(metric(_, isWrite, "written output")).sum.toDouble)
      out(s"lake.compact_ms.$kind") = per(compacts.map(x => x.end - x.start).sum.toDouble)
      out(s"lake.compactions.$kind") = per(compacts.size)
      out(s"lake.compact_bytes.$kind") = per(compacts.map(metric(_, isWrite, "written output")).sum.toDouble)
      out(s"lake.scan_files.$kind") = per(myExecs.map(metric(_, isScan, "number of files read")).sum.toDouble)
      out(s"lake.scan_bytes.$kind") = per(myExecs.map(metric(_, isScan, "size of files read")).sum.toDouble)
      out(s"lake.shuffle_bytes.$kind") = per(sumOp(shuffleBytes))
      out(s"lake.exchanges.$kind") = per(myExecs.map(x => nodes(x.plan).count(_.nodeName == "Exchange")).sum.toDouble)
      val myStmts = stmts.filter(s => ids(opAt(s.phases("parsing")._1)))
      def ph(k: String) = per(myStmts.map(s => s.phases.get(k).map(t => t._2 - t._1).getOrElse(0L)).sum.toDouble)
      out(s"mor.parse_ms.$kind") = ph("parsing")
      out(s"mor.analyze_ms.$kind") = ph("analysis")
      out(s"mor.optimize_ms.$kind") = ph("optimization")
      out(s"mor.plan_ms.$kind") = ph("planning")
      // execution = the statement's time outside the planning phases, from
      // parsing to the end of its operation: commands that run eagerly
      // (MERGE, between analysis and optimization) and the collect
      out(s"mor.exec_ms.$kind") = per(myStmts.map { st =>
        val start = st.phases("parsing")._1
        os.find(_.id == opAt(start)).map { o =>
          (o.endMs - start) - st.phases.values.map(t => t._2 - t._1).sum
        }.getOrElse(0L).toDouble
      }.sum)
      out(s"plans.rule_ms.$kind") = per(os.map(_.ruleNs).sum / 1e6)
      out(s"spark.jobs.$kind") = per(myJobs.size)
      out(s"spark.stages.$kind") = per(sumOp(stages))
      out(s"spark.tasks.$kind") = per(sumOp(tasks))
      out(s"spark.task_ms.$kind") = per(sumOp(taskMs))
      out(s"spark.gc_ms.$kind") = per(os.map(_.gcMs).sum.toDouble)
    }
    out("spark.cache_mb") = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    out.toMap
  }

  // ----------------------------------------------------------------- spans

  /** The span tree: operation → stream phase → addBatch / statement → SQL
    * execution → Spark job. Stream phases are laid out from the progress
    * record's trigger start and phase durations, in execution order. */
  def spans(): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    def add(name: String, s: Long, e: Long, parent: Int, op: Int): Int = {
      out += Span(out.size, name, s, e, parent, op); out.size - 1
    }
    val containers = mutable.ArrayBuffer.empty[(Int, Long, Long, Int)] // span, start, end, op
    allOps.foreach { o =>
      val root = add(s"op.${o.kind}", o.startMs, o.endMs, -1, o.id)
      o.progress.foreach { p =>
        var t = java.time.Instant.parse(p.timestamp).toEpochMilli
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { k =>
            val d = phase(p, k)
            val id = add(s"stream.$k", t, t + d, root, o.id)
            if (k == "addBatch") containers += ((id, t, t + d, o.id))
            t += d
          }
      }
      containers += ((root, o.startMs, o.endMs, o.id))
    }
    // a statement is the last thing its operation does: it ends with it
    stmts.foreach { s =>
      val start = s.phases("parsing")._1
      val op = opAt(start)
      val end = allOps.find(_.id == op).map(_.endMs).getOrElse(s.end)
      val parent = containers.find(c => c._4 == op).map(_._1).getOrElse(-1)
      val id = add("statement", start, end, parent, op)
      containers.prepend((id, start, end, op))
    }
    val execSpan = mutable.HashMap.empty[Long, Int]
    def within(op: Int, a: Long, b: Long): Int =
      containers.find(c => c._4 == op && a >= c._2 && a <= c._3).map(_._1)
        .orElse(containers.find(_._4 == op).map(_._1)).getOrElse(-1)
    execs.values.foreach { x =>
      val op = execOp(x)
      execSpan(x.id) = add("sql", x.start, x.end, within(op, x.start, x.end), op)
    }
    jobs.foreach { j =>
      val parent = execSpan.getOrElse(j.exec, within(j.op, j.start, j.end))
      add("job", j.start, j.end, parent, j.op)
    }
    out.toSeq
  }
}

final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

object Probe {
  val OpKey = "graftbench.op"

  /** Epoch milliseconds with sub-millisecond digits. */
  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Cumulative catalyst rule time of the engine's rewrite rules
    * (`graft.plans.*`), in ns, from Spark's rule-time meter (total, not
    * just effective, time). */
  def graftRuleNs(): Long =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent().linesIterator
      .filter(_.trim.startsWith("graft.plans."))
      .map(_.trim.split("\\s+")) // rule, effective ns, "/", total ns, runs...
      .flatMap(f => f.lift(3).flatMap(_.toLongOption))
      .sum

  /** Union length of `spans` clipped to [from, to]. */
  def covered(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time per span name: duration minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        math.max(0L, (s.end - s.start) - covered(cs, s.start, s.end))
      }.sum
    }
  }
}
