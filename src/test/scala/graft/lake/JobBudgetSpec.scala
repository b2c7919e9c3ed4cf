package graft.lake

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{JobStats, TestSpark}

/** Spark jobs per write and read verb on both lake table forms, over small
  * synthetic tables. Job counts do not depend on host speed, so a layer
  * that starts running an extra job fails here instead of hiding in wall
  * noise. Each budget is the count the verb runs today: lower one when a
  * change removes a job, never raise one. */
class JobBudgetSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private lazy val stats = {
    val s = new JobStats
    spark.sparkContext.addSparkListener(s)
    s
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(stats)
    super.afterAll()
  }

  /** Spark jobs `body` runs. */
  private def jobs(body: => Any): Long = {
    JobStats.drain(spark.sparkContext)
    val j0 = stats.jobs
    body
    JobStats.drain(spark.sparkContext)
    stats.jobs - j0
  }

  /** Every measured verb within its budget; the message lists them all. */
  private def assertWithin(budget: Map[String, Long], measured: Seq[(String, Long)]): Unit = {
    assert(measured.map(_._1).toSet == budget.keySet)
    val over = measured.filter { case (verb, n) => n > budget(verb) }
    assert(over.isEmpty, s"over budget: ${over.mkString(", ")}; " +
      s"measured ${measured.mkString(", ")}; budget $budget")
  }

  /** Rows (k, p, v) for keys `ks`, spread over `parts` partition values. */
  private def rows(ks: Range, parts: Int, v: Int = 1): DataFrame =
    spark.range(ks.start.toLong, ks.end.toLong, 1, 2).select(col("id").as("k"),
      concat(lit("p"), (col("id") % parts).cast("string")).as("p"), lit(v).as("v"))

  /** A changelog envelope: updates for `upd`, deletes for `del`. */
  private def envelope(upd: Range, del: Range, parts: Int): DataFrame = {
    val image = struct(col("k"), col("p"), col("v"))
    rows(upd, parts, v = 2).select(lit("U").as("op"), col("k").cast("string").as("key"),
      lit(null).cast(rows(upd, parts).schema).as("before"), image.as("after"), col("k").as("seq"))
      .unionByName(rows(del, parts).select(lit("D").as("op"), col("k").cast("string").as("key"),
        image.as("before"), lit(null).cast(rows(del, parts).schema).as("after"), col("k").as("seq")))
  }

  /** The verbs, in order, on a table seeded with keys 0 until 40. */
  private def verbs(t: LakeTable, parts: Int, upsertIfNew: DataFrame => Any,
                    delete: DataFrame => Any): Seq[(String, Long)] = Seq(
    "upsert" -> jobs(t.upsert(rows(20 until 60, parts), Seq(col("v")), batchId = 2L)),
    "upsertIfNew" -> jobs(upsertIfNew(rows(100 until 120, parts))),
    "delete" -> jobs(delete(rows(0 until 5, parts).select("k", "p"))),
    "applyChangelog" -> jobs(t.applyChangelog(envelope(5 until 15, 15 until 20, parts),
      batchId = 5L)),
    "updateWhere" -> jobs(t.updateWhere(col("k") < 30, Map("v" -> lit(0)), batchId = 6L)),
    "read" -> jobs(t.read().collect()))

  /** Compaction and clean on a table with two deltas, then minor
    * compaction after one more delta over part of the key range. */
  private def services(t: LakeTable, parts: Int): Seq[(String, Long)] = {
    t.upsert(rows(0 until 40, parts), Nil, batchId = 1L)
    t.upsert(rows(20 until 60, parts, v = 2), Nil, batchId = 2L)
    val compact = jobs(t.runCompaction("full"))
    t.upsert(rows(50 until 55, parts, v = 3), Nil, batchId = 3L)
    val minor = jobs(t.runCompaction("minor"))
    Seq("compact" -> compact, "compactMinor" -> minor, "clean" -> jobs(t.clean()))
  }

  test("unpartitioned compaction and clean stay within their job budgets") {
    val t = new MorTable(spark, graft.TempDirs.create("budget-mor-svc"), Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 2)
    assertWithin(Map("compact" -> 6L, "compactMinor" -> 11L, "clean" -> 0L), services(t, 1))
  }

  test("partitioned compaction and clean stay within their job budgets (4 partitions)") {
    val t = new PartitionedMorTable(spark, graft.TempDirs.create("budget-pmor-svc"), Seq("k"),
      "p", compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 2)
    assertWithin(Map("compact" -> 15L, "compactMinor" -> 28L, "clean" -> 0L), services(t, 4))
  }

  test("unpartitioned verbs stay within their job budgets") {
    val t = new MorTable(spark, graft.TempDirs.create("budget-mor"), Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false)
    val seed = jobs(t.upsert(rows(0 until 40, 1), Nil, batchId = 1L))
    val measured = ("first upsert" -> seed) +: verbs(t, 1,
      b => t.upsertIfNew(b, Nil, batchId = 3L), k => t.delete(k, batchId = 4L))
    assertWithin(Map("first upsert" -> 1L, "upsert" -> 1L, "upsertIfNew" -> 7L,
      "delete" -> 1L, "applyChangelog" -> 2L, "updateWhere" -> 3L, "read" -> 2L), measured)
  }

  test("partitioned verbs stay within their job budgets (4 partitions)") {
    val t = new PartitionedMorTable(spark, graft.TempDirs.create("budget-pmor"), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    val seed = jobs(t.upsert(rows(0 until 40, 4), Nil, batchId = 1L))
    val measured = ("first upsert" -> seed) +: verbs(t, 4,
      b => t.upsertIfNew(b, Nil, batchId = 3L), k => t.delete(k, batchId = 4L))
    assertWithin(Map("first upsert" -> 1L, "upsert" -> 1L, "upsertIfNew" -> 6L,
      "delete" -> 1L, "applyChangelog" -> 2L, "updateWhere" -> 3L, "read" -> 2L), measured)
  }

  test("partitioned upsert at one partition stays within its job budget") {
    val t = new PartitionedMorTable(spark, graft.TempDirs.create("budget-pmor1"), Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    val measured = Seq(
      "first upsert" -> jobs(t.upsert(rows(0 until 40, 1), Nil, batchId = 1L)),
      "upsert" -> jobs(t.upsert(rows(20 until 60, 1), Seq(col("v")), batchId = 2L)))
    assertWithin(Map("first upsert" -> 1L, "upsert" -> 1L), measured)
  }

  test("SQL MERGE on a partitioned graft.mor table stays within its job budget") {
    val path = graft.TempDirs.create("budget-merge")
    rows(0 until 40, 4).write.format("graft.mor").option("path", path)
      .option("keys", "k").option("partition", "p").save()
    spark.sql("DROP TABLE IF EXISTS budget_merge_t")
    spark.sql(s"CREATE TABLE budget_merge_t USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'k', partition 'p')")
    try {
      rows(30 until 50, 4, v = 3).createOrReplaceTempView("budget_merge_src")
      val merge = jobs(spark.sql(
        """MERGE INTO budget_merge_t AS t USING budget_merge_src AS s
          |ON t.k = s.k AND t.p = s.p
          |WHEN MATCHED AND s.k < 35 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)""".stripMargin).collect())
      val read = jobs(spark.sql("SELECT * FROM budget_merge_t").collect())
      assert(spark.table("budget_merge_t").count() == 45L)
      assertWithin(Map("merge" -> 25L, "read" -> 1L), Seq("merge" -> merge, "read" -> read))
    } finally spark.sql("DROP TABLE IF EXISTS budget_merge_t")
  }
}
