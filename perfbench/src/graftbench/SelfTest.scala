package graftbench

/** The benchmark's own test: on a small lake, every workload's checks pass
  * on the engine's output, and fail once one row of the lake is changed
  * behind the model's back.
  *
  * {{{  graftbench.SelfTest --work <scratch dir>  }}}
  * Exits 1 if any expectation fails. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("missing --work"))
    val spark = Main.session(work)
    val probe = new Probe(spark, traced = false)
    val data = new TestData(persons = 200, tickets = 2000)
    val failures = Main.Workloads.flatMap { name =>
      val wl = Main.workload(spark, probe, data, name, 7L)
      try check(wl, probe, s"$work/$name").map(f => s"$name: $f")
      finally wl.close()
    }
    spark.stop()
    failures.foreach(f => System.err.println(s"FAIL $f"))
    println(if (failures.isEmpty) "selftest: ok" else s"selftest: ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }

  /** Expectations that failed. */
  def check(wl: Workload, probe: Probe, dir: String): Seq[String] = {
    wl.setup(dir)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    for (_ <- 1 to 2) {
      val op = probe.begin("write")
      wl.write(op)
      probe.end(op)
      wl.reads().filterNot(_.run()).foreach(r => failed += s"read ${r.name} wrong on a clean lake")
    }
    val clean = wl.finalCheck()
    if (clean.nonEmpty) failed += s"final check failed on a clean lake: ${clean.head}"
    wl.compactions().foreach { case (t, (d, c, p)) =>
      if (c != p) failed += s"table $t: $c compactions after $d deltas, predicted $p"
    }
    wl.corrupt()
    if (wl.finalCheck().isEmpty) failed += "final check passed on a corrupted lake"
    val readsAfter = wl.reads().map(_.run())
    if (wl.isInstanceOf[LakeSqlWorkload] && readsAfter.forall(identity))
      failed += "every query answer matched the model on a corrupted lake"
    failed.toSeq
  }
}
