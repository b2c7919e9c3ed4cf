package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.lake.MorTable

/** S5 catalog DDL over MOR tables + T5 write-parallelism controls. */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("S5: register → SQL query → DROP TABLE IF EXISTS is idempotent") {
    val t = MorTable(spark, TestSpark.tmpDir("cat-t1"), Seq("uuid"),
      compactionDeltaCommits = 100)
    t.upsert(Seq(("id1", "Danny", 23)).toDF("uuid", "name", "age"), Seq(col("uuid")))
    GraftCatalog.register(spark, "t1_cat", t)
    assert(spark.sql("SELECT name FROM t1_cat WHERE uuid = 'id1'")
      .head().getString(0) == "Danny")
    GraftCatalog.dropTable(spark, "t1_cat")
    GraftCatalog.dropTable(spark, "t1_cat") // IF EXISTS semantics: no throw
    assert(!GraftCatalog.exists(spark, "t1_cat"))
    // purge drops storage too
    GraftCatalog.register(spark, "t1_cat", t)
    GraftCatalog.dropTable(spark, "t1_cat", Some(t), purge = true)
    assert(!new java.io.File(t.path).exists())
  }

  test("registered table is commit-fresh: SQL sees each commit, no re-register") {
    val t = MorTable(spark, TestSpark.tmpDir("cat-fresh"), Seq("uuid"),
      compactionDeltaCommits = 100)
    t.upsert(Seq(("id1", "Danny", 23)).toDF("uuid", "name", "age"), Seq(col("uuid")))
    GraftCatalog.register(spark, "t_fresh", t)
    assert(spark.sql("SELECT count(*) AS n FROM t_fresh").head().getLong(0) == 1)
    t.upsert(Seq(("id2", "Emma", 20)).toDF("uuid", "name", "age"), Seq(col("uuid")))
    // NO re-register — the resolution rule must see the new commit
    assert(spark.sql("SELECT count(*) AS n FROM t_fresh").head().getLong(0) == 2)
    t.upsert(Seq(("id1", "Dan", 24)).toDF("uuid", "name", "age"), Seq(col("uuid")))
    assert(spark.sql("SELECT name FROM t_fresh WHERE uuid = 'id1'")
      .head().getString(0) == "Dan")
    GraftCatalog.dropTable(spark, "t_fresh")
    assert(!GraftCatalog.exists(spark, "t_fresh"))
    intercept[Exception] { spark.sql("SELECT * FROM t_fresh").collect() }
  }

  test("partitioned table registers commit-fresh under a catalog name too") {
    val t = new graft.lake.PartitionedMorTable(spark, TestSpark.tmpDir("cat-part"),
      keyCols = Seq("uuid"), partCol = "kind")
    t.upsert(Seq(("id1", "a", 1)).toDF("uuid", "kind", "v"), Seq(col("uuid")))
    GraftCatalog.register(spark, "t_part_cat", t)
    assert(spark.sql("SELECT count(*) FROM t_part_cat").head().getLong(0) == 1)
    t.upsert(Seq(("id2", "b", 2)).toDF("uuid", "kind", "v"), Seq(col("uuid")))
    // no re-register — the rule re-reads the partitioned timeline
    assert(spark.sql("SELECT count(*) FROM t_part_cat").head().getLong(0) == 2)
    GraftCatalog.dropTable(spark, "t_part_cat")
  }

  test("T5: writePartitions controls files per commit (write.tasks analog)") {
    val t = new MorTable(spark, TestSpark.tmpDir("cat-wp"), Seq("k"),
      compactionDeltaCommits = 100, writePartitions = 3)
    t.upsert((1 to 100).map(i => (s"k$i", i)).toDF("k", "v"), Seq(col("v")))
    val files = new java.io.File(s"${t.path}/delta/1").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files == 3, s"expected 3 parquet files, got $files")
    assert(t.read().count() == 100)
  }
}
