package graft.lake

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The commit-row rules ([[CommitRows]], [[Expectations]], the shared
  * UPDATE projection) behave the same on both lake table forms: one spec
  * body per rule, run over each form. */
class CommitRowsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A table form: its name, how to open a fresh one at a path, its
    * `upsertIfNew` (not a [[LakeTable]] verb: the two forms return
    * different verdicts) and its `delete` of (k, p) rows. */
  private case class Form(name: String, open: String => LakeTable,
                          upsertIfNew: (LakeTable, DataFrame, Long) => Any,
                          delete: (LakeTable, DataFrame, Long) => Any)

  private val forms = Seq(
    Form("unpartitioned",
      path => new MorTable(spark, path, Seq("k"), compactionDeltaCommits = 1000,
        autoCompact = false),
      (t, b, id) => t.asInstanceOf[MorTable].upsertIfNew(b, Nil, batchId = id),
      (t, keys, id) => t.asInstanceOf[MorTable].delete(keys.select("k"), batchId = id)),
    Form("partitioned",
      path => new PartitionedMorTable(spark, path, Seq("k"), "p",
        compactionDeltaCommits = 1000, autoCompact = false),
      (t, b, id) => t.asInstanceOf[PartitionedMorTable].upsertIfNew(b, Nil, batchId = id),
      (t, keys, id) => t.asInstanceOf[PartitionedMorTable].delete(keys, batchId = id)))

  private def rows(rs: (Long, String, Int)*): DataFrame = rs.toDF("k", "p", "v")

  /** Every instant file, inflight marker and staged file under `path`. */
  private def commitFiles(path: String): Set[String] =
    Files.walk(Paths.get(path)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => Paths.get(path).relativize(p).toString)
      .filter(f => f.contains("timeline") || f.contains(".staging"))
      .filterNot(f => f.endsWith(".crc") || f.contains("_archived")).toSet

  /** The current rows as sorted (k, p, v). */
  private def current(t: LakeTable): Seq[(Long, String, Int)] =
    t.read().select("k", "p", "v").as[(Long, String, Int)].collect().toSeq.sorted

  for (form <- forms) {
    test(s"${form.name}: FAIL-mode expectations refuse a violating applyChangelog and " +
      "upsertIfNew, leaving no instant, marker or staged dir") {
      val path = TestSpark.tmpDir("commit-rows-fail")
      val t = form.open(path)
      t.upsert(rows((1L, "a", 10), (2L, "b", 20)), Nil, batchId = 1L)
      t.withExpectations(Seq("v_positive" -> (col("v") > 0)), "fail")
      val files = commitFiles(path)
      val before = current(t)
      // a violating after-image next to a tombstone (tombstones never violate)
      val envelope = spark.sql(
        """SELECT 'U' op, '1' key, CAST(NULL AS STRUCT<k BIGINT, p STRING, v INT>) before,
          |       named_struct('k', 1L, 'p', 'a', 'v', -1) after, 1L seq
          |UNION ALL
          |SELECT 'D', '2', named_struct('k', 2L, 'p', 'b', 'v', 20), NULL, 2L""".stripMargin)
      val e1 = intercept[IllegalArgumentException](t.applyChangelog(envelope, batchId = 2L))
      assert(e1.getMessage.contains("v_positive"), e1.getMessage)
      assert(commitFiles(path) == files)
      val e2 = intercept[IllegalArgumentException](
        form.upsertIfNew(t, rows((3L, "c", -5)), 3L))
      assert(e2.getMessage.contains("v_positive"), e2.getMessage)
      assert(commitFiles(path) == files)
      assert(current(t) == before)
      // a passing changelog still commits, its tombstone included
      t.applyChangelog(envelope.withColumn("after",
        col("after").withField("v", lit(11))), batchId = 4L)
      assert(current(t) == Seq((1L, "a", 11)))
    }

    test(s"${form.name}: FAIL-mode expectations let delete and deleteWhere commit " +
      "(tombstones never violate) and leave no inflight marker") {
      val path = TestSpark.tmpDir("commit-rows-delete")
      val t = form.open(path)
      t.upsert(rows((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)), Nil, batchId = 1L)
      t.withExpectations(Seq("v_positive" -> (col("v") > 0)), "fail")
      form.delete(t, Seq((1L, "a")).toDF("k", "p"), 2L)
      t.deleteWhere(col("k") === 2L, batchId = 3L)
      assert(current(t) == Seq((3L, "c", 30)))
      assert(!commitFiles(path).exists(f => f.endsWith(".inflight") || f.contains(".staging")),
        commitFiles(path))
    }

    test(s"${form.name}: upsertIfNew commits no DROP- or QUARANTINE-mode violator; " +
      "QUARANTINE mode quarantines it") {
      for (mode <- Seq("drop", "quarantine")) {
        val path = TestSpark.tmpDir(s"commit-rows-$mode")
        val t = form.open(path)
        t.upsert(rows((1L, "a", 10)), Nil, batchId = 1L)
        t.withExpectations(Seq("v_positive" -> (col("v") > 0)), mode)
        form.upsertIfNew(t, rows((2L, "b", 20), (3L, "c", -5)), 2L)
        assert(current(t) == Seq((1L, "a", 10), (2L, "b", 20)), mode)
        if (mode == "quarantine")
          assert(Expectations.readQuarantine(spark, path).select("k", "_rule")
            .as[(Long, String)].collect().toSeq == Seq((3L, "v_positive")))
        else intercept[IllegalStateException](Expectations.readQuarantine(spark, path))
      }
    }

    test(s"${form.name}: updateWhere refuses an unknown SET column and commits nothing; " +
      "a SET key resolves case-insensitively") {
      val path = TestSpark.tmpDir("commit-rows-update")
      val t = form.open(path)
      t.upsert(rows((1L, "a", 10), (2L, "b", 20)), Nil, batchId = 1L)
      val commits = t.commits()
      val e = intercept[IllegalArgumentException](
        t.updateWhere(col("k") === 1L, Map("nosuch" -> lit(1)), batchId = 2L))
      assert(e.getMessage.contains("nosuch"), e.getMessage)
      assert(t.commits() == commits)
      t.updateWhere(col("k") === 1L, Map("V" -> lit(5)), batchId = 3L)
      assert(current(t) == Seq((1L, "a", 5), (2L, "b", 20)))
    }
  }
}
