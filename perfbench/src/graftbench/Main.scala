package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Try
import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one process.
  *
  * {{{
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <scratch dir> --out <result json>
  * }}}
  *
  * Phases: session start; one set-up (testdata load, table or pipeline
  * initialization); [[Workload.warmups]] untimed rounds; the timed rounds
  * (one write, then its reads); the final model check.
  *
  * The timed rounds are whole compaction cycles ([[Workload.cycle]] writes
  * each): as many cycles of nominal length ([[Workload.roundSeconds]] per
  * round, measured on a quiet 4-core host) as fit in `--seconds`, at least
  * one. The count is fixed by `--seconds`, not by a clock: runs of one seed
  * do the same operations however fast the host is that minute — the same
  * writes reach the same compactions, the same op counts feed the
  * percentiles, and the deterministic-work record compares exactly. */
object Main {
  /** Testdata size: TPC-H sf0.1 persons (customer, 15k rows) and sf0.01
    * tickets (orders, 15k rows). */
  val Persons = 15000
  val Tickets = 15000
  val Workloads = Seq("ticket_transfers", "lake_sql")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("out"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(work: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val probe = new Probe(spark, a.trace)
    val data = new TestData(persons = Persons, tickets = Tickets)
    val wl = workload(spark, probe, data, a.workload, a.seed)
    val result = try run(spark, probe, wl, a, sessionS) finally wl.close()
    Files.write(Paths.get(a.out), result.getBytes("UTF-8"))
    spark.stop()
  }

  def workload(spark: SparkSession, probe: Probe, data: TestData, name: String,
               seed: Long): Workload = name match {
    case "ticket_transfers" => new PipelineWorkload(spark, probe, data, seed)
    case "lake_sql" => new LakeSqlWorkload(spark, data, seed)
  }

  final case class Sample(kind: String, ms: Double, ok: Boolean)

  def run(spark: SparkSession, probe: Probe, wl: Workload, a: Args, sessionS: Double): String = {
    val setupOp = probe.begin("setup")
    val t0 = System.nanoTime()
    wl.setup(s"${a.work}/lake")
    val setupS = (System.nanoTime() - t0) / 1e9
    probe.end(setupOp)
    val errors = mutable.ArrayBuffer.empty[String]
    // a failed or wrong operation is counted, not fatal; its time is not a
    // latency sample
    def measure(kind: String, label: String)(body: Op => Double): (Op, Sample) = {
      val op = probe.begin(label)
      val r = Try(body(op))
      probe.end(op)
      r.failed.foreach(e => errors += s"$label ${op.id}: $e")
      (op, Sample(kind, r.getOrElse(Double.NaN), r.isSuccess))
    }
    def round(prefix: String): Seq[(Op, Sample)] =
      measure("write", prefix + "write")(wl.write) +: wl.reads().map { r =>
        measure("read", prefix + "read") { _ =>
          val t = System.nanoTime()
          if (!r.run()) throw new IllegalStateException(s"${r.name} answered wrong")
          (System.nanoTime() - t) / 1e6
        }
      }
    val w0 = System.nanoTime()
    (1 to wl.warmups).foreach(_ => round("warmup-"))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val timed = mutable.ArrayBuffer.empty[(Op, Sample)]
    val cycles = math.max(1, math.floor(a.seconds / (wl.roundSeconds * wl.cycle)).toInt)
    val writes = cycles * wl.cycle
    val start = System.nanoTime()
    (1 to writes).foreach(_ => timed ++= round(""))
    val timedS = (System.nanoTime() - start) / 1e9
    val c0 = System.nanoTime()
    val (bytes, live) = wl.footprint()
    val mismatches = wl.finalCheck()
    errors ++= mismatches.take(10)
    val comp = wl.compactions()
    comp.foreach { case (t, (d, c, p)) =>
      if (c != p) errors += s"table $t: $c compactions after $d deltas, count trigger predicts $p"
    }
    val checkS = (System.nanoTime() - c0) / 1e9
    System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    probe.drain()

    val samples = timed.map(_._2)
    def lat(kind: String) = samples.filter(x => x.kind == kind && x.ok).map(_.ms).toIndexedSeq
    val attempted = samples.size + 1
    val failed = samples.count(!_.ok) + (if (mismatches.nonEmpty || comp.exists { case (_, (_, c, p)) => c != p }) 1 else 0)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (sessionS + setupS),
      "write_ms.p50" -> Stats.pct(lat("write"), 50),
      "write_ms.p90" -> Stats.pct(lat("write"), 90),
      "read_ms.p50" -> Stats.pct(lat("read"), 50),
      "read_ms.p90" -> Stats.pct(lat("read"), 90),
      "rows_per_s" -> writes * wl.rowsPerWrite / timedS,
      "ok_rate" -> (attempted - failed).toDouble / attempted,
      "bytes_per_row" -> bytes.toDouble / math.max(1L, live),
      "heap_mb" -> heapMb)
    val timedOps = timed.map(_._1).toSeq
    val layers = if (a.trace) probe.layerMetrics(timedOps) else Map.empty[String, Double]
    val jobs = probe.jobsByOp
    def kindCounts(kind: String) = timedOps.filter(_.kind == kind).map(o => jobs.getOrElse(o.id, 0))
    val work = Json.obj(
      "writes" -> Json.num(writes),
      "write_jobs" -> Json.arr(kindCounts("write").map(Json.num(_))),
      "read_jobs" -> Json.arr(kindCounts("read").map(Json.num(_))),
      "tables" -> Json.obj(comp.toSeq.sortBy(_._1).map { case (t, (d, c, p)) =>
        t -> Json.obj("deltas" -> Json.num(d), "compactions" -> Json.num(c),
          "predicted" -> Json.num(p)) }: _*))
    val spans = if (a.trace) probe.spans() else Nil
    Json.obj(
      "workload" -> Json.str(a.workload),
      "seed" -> Json.num(a.seed),
      "trace" -> Json.bool(a.trace),
      "correct" -> Json.bool(failed == 0),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed),
      "errors" -> Json.arr(errors.toSeq.map(Json.str)),
      "timed_s" -> Json.num(timedS),
      "session_s" -> Json.num(sessionS),
      "lake_setup_s" -> Json.num(setupS),
      "warmup_s" -> Json.num(warmupS),
      "check_s" -> Json.num(checkS),
      "samples" -> Json.arr(samples.toSeq.map(x =>
        Json.arr(Seq(Json.str(x.kind), Json.num(x.ms), Json.bool(x.ok))))),
      "end_to_end" -> Json.obj(e2e.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "work" -> work,
      "self_ms" -> Json.obj(Probe.selfTimes(spans).toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) }: _*),
      "spans" -> Json.arr(spans.map(s => Json.arr(Seq(Json.num(s.id), Json.str(s.name),
        Json.num(s.start), Json.num(s.end), Json.num(s.parent), Json.num(s.op)))))
    )
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile (0 for no samples). */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
