package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.TestSpark
import graft.sources.ChangelogSource

/** The continuous 3-way-join pipeline's hard semantics (SURVEY §7.4 #1):
  * retraction of previously-emitted join rows when inputs change
  * (zpln:1870), last-transaction-per-person collapse (zpln:2119), the
  * empty-duplicate-check invariant (zpln:2812), and exactly-once replay. */
class IncrementalJoinPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // reference-shaped micro-world: person(id, full_name) /
  // ticket(tid, holder_id, price) / hist(hid, ticket_id, amt)
  private def people = Seq((1.0, "Ann"), (2.0, "Bob")).toDF("id", "full_name")
  private def tickets = Seq((10.0, 1.0, 50.0f), (20.0, 2.0, 60.0f))
    .toDF("tid", "holder_id", "price")
  private def histDf(rows: Seq[(Long, Double, Double)]) =
    rows.toDF("hid", "ticket_id", "amt")

  private def mkPipe(dirTag: String) = new IncrementalJoinPipeline(
    spark, TestSpark.tmpDir(s"pipe-$dirTag"),
    personKey = "id", ticketKey = "tid", ticketPersonFk = "holder_id",
    histTicketFk = "ticket_id", histKeyCols = Seq("hid"), histOrder = Seq("hid"),
    project = j => j.select(col("full_name"), col("amt"), col("hid")),
    sinkKey = "full_name")

  private def emptyP = ChangelogSource.emptyEnvelope(people, Seq("id"))
  private def emptyT = ChangelogSource.emptyEnvelope(tickets, Seq("tid"))
  private def emptyH = ChangelogSource.emptyEnvelope(histDf(Seq()), Seq("hid"))

  private def histLog(rows: (String, Long, Double, Double, Long)*) =
    ChangelogSource.fromOps(
      rows.toSeq.toDF("op", "hid", "ticket_id", "amt", "seq"), Seq("hid"))

  private def sinkMap(p: IncrementalJoinPipeline): Map[String, Double] =
    p.sink.read().collect()
      .map(r => r.getAs[String]("full_name") -> r.getAs[Double]("amt")).toMap

  test("appends land; last transaction per person wins; dup-check empty") {
    val p = mkPipe("append")
    p.initialize(people, tickets, histDf(Seq()))
    p.processBatch(emptyP, emptyT,
      histLog(("I", 1L, 10.0, 5.0, 1L), ("I", 2L, 20.0, 6.0, 2L)), 1L)
    p.processBatch(emptyP, emptyT, histLog(("I", 3L, 10.0, 7.5, 3L)), 2L)
    assert(sinkMap(p) == Map("Ann" -> 7.5, "Bob" -> 6.0))
    assert(p.duplicateCheck().isEmpty)
  }

  test("T3 person rename retracts the old sink key (zpln:1870)") {
    val p = mkPipe("rename")
    p.initialize(people, tickets, histDf(Seq((1L, 10.0, 5.0))))
    assert(sinkMap(p) == Map("Ann" -> 5.0))
    val renameAnn = ChangelogSource.fromOps(
      Seq(("I", 1.0, "Ann", 0L), ("U", 1.0, "Annette", 1L))
        .toDF("op", "id", "full_name", "seq"), Seq("id"))
      .filter($"seq" === 1L)
    p.processBatch(renameAnn, emptyT, emptyH, 1L)
    assert(sinkMap(p) == Map("Annette" -> 5.0)) // "Ann" retracted
  }

  test("ticket reassignment moves the row between persons") {
    val p = mkPipe("reassign")
    p.initialize(people, tickets, histDf(Seq((1L, 10.0, 5.0))))
    // ticket 10 moves from Ann(1) to Bob(2)
    val moveT = ChangelogSource.fromOps(
      Seq(("I", 10.0, 1.0, 50.0f, 0L), ("U", 10.0, 2.0, 50.0f, 1L))
        .toDF("op", "tid", "holder_id", "price", "seq"), Seq("tid"))
      .filter($"seq" === 1L)
    p.processBatch(emptyP, moveT, emptyH, 1L)
    // Ann loses her only hist row (retracted); Bob inherits it
    assert(sinkMap(p) == Map("Bob" -> 5.0))
  }

  test("hist delete reverts the person to the previous transaction") {
    val p = mkPipe("hdel")
    p.initialize(people, tickets, histDf(Seq((1L, 10.0, 5.0), (2L, 10.0, 9.0))))
    assert(sinkMap(p) == Map("Ann" -> 9.0))
    p.processBatch(emptyP, emptyT, histLog(("D", 2L, 10.0, 9.0, 1L)), 1L)
    assert(sinkMap(p) == Map("Ann" -> 5.0))
    // deleting the last hist row retracts the person entirely
    p.processBatch(emptyP, emptyT, histLog(("D", 1L, 10.0, 5.0, 2L)), 2L)
    assert(sinkMap(p) == Map.empty)
  }

  test("T1 exactly-once: full and partial replays are no-ops") {
    val p = mkPipe("replay")
    p.initialize(people, tickets, histDf(Seq()))
    val b1 = histLog(("I", 1L, 10.0, 5.0, 1L))
    p.processBatch(emptyP, emptyT, b1, 1L)
    val before = sinkMap(p)
    p.processBatch(emptyP, emptyT, b1, 1L) // full replay
    assert(sinkMap(p) == before)
    // partial replay: states already advanced with batch 2, sink didn't
    val b2 = histLog(("I", 2L, 20.0, 8.0, 2L))
    p.hState.applyChangelog(b2, 2L)
    p.processBatch(emptyP, emptyT, b2, 2L)
    assert(sinkMap(p) == Map("Ann" -> 5.0, "Bob" -> 8.0))
    assert(p.duplicateCheck().isEmpty)
  }

  test("steady-state batches stay within a code-generation compile budget") {
    val p = mkPipe("compiles")
    p.initialize(people, tickets, histDf(Seq((1L, 10.0, 5.0))))
    // every batch moves ticket 10 between Ann and Bob (the full-recompute
    // path) and appends one hist row on Bob's ticket 20
    def batch(b: Long): Unit = {
      val moveT = ChangelogSource.fromOps(
        Seq(("U", 10.0, if (b % 2 == 0) 1.0 else 2.0, 50.0f, b))
          .toDF("op", "tid", "holder_id", "price", "seq"), Seq("tid"))
      p.processBatch(emptyP, moveT, histLog(("I", 100L + b, 20.0, b.toDouble, b)), b)
    }
    (1L to 3L).foreach(batch)
    val c0 = org.apache.spark.sql.graft.GraftSqlShim.codegenCompilations()
    (4L to 6L).foreach(batch)
    val compiles = org.apache.spark.sql.graft.GraftSqlShim.codegenCompilations() - c0
    assert(sinkMap(p) == Map("Ann" -> 5.0, "Bob" -> 6.0))
    // the plan shapes repeat batch to batch; what still compiles is the
    // code whose literals change per commit (commit seqnos and times)
    assert(compiles <= CompileBudget,
      s"$compiles compilations in 3 warm batches (budget $CompileBudget)")
  }

  // 38 measured on a 4-core host, plus headroom; Spark's default cache of
  // 100 classes and stage ids in class names measured 616
  private val CompileBudget = 50
}
