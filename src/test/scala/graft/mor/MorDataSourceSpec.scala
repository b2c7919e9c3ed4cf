package graft.mor

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.lake.MorTable

/** The DataSource seam: read/write by format name, SQL DDL registration in
  * the shared catalog, commit-fresh catalog reads, cross-session
  * visibility (the Glue/Athena analog). */
class MorDataSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("write.format is a keyed upsert; read.format sees the merged snapshot") {
    val path = TestSpark.tmpDir("dsv1-rw")
    Seq(("id1", "Danny", 23), ("id2", "Emma", 20)).toDF("uuid", "name", "age")
      .write.format("graft.mor").option("keys", "uuid").mode("append").save(path)
    // second append upserts id1 (Hudi's default write semantics)
    Seq(("id1", "Dan", 24)).toDF("uuid", "name", "age")
      .write.format("graft-mor").option("keys", "uuid").mode("append").save(path)
    val got = spark.read.format("graft.mor").option("keys", "uuid").load(path)
      .orderBy("uuid").collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(got.toSeq == Seq(("id1", "Dan", 24), ("id2", "Emma", 20)))
  }

  test("CREATE TABLE USING graft.mor: catalog reads are commit-fresh and cross-session") {
    val path = TestSpark.tmpDir("dsv1-ddl")
    Seq(("id1", "Danny", 23)).toDF("uuid", "name", "age")
      .write.format("graft.mor").option("keys", "uuid").save(path)
    spark.sql(s"CREATE TABLE mor_cat_t USING `graft.mor` OPTIONS (path '$path', keys 'uuid')")
    try {
      assert(spark.sql("SELECT name FROM mor_cat_t WHERE uuid = 'id1'")
        .head().getString(0) == "Danny")
      // a commit through ANY handle is visible on the next query, no REFRESH
      MorTable(spark, path, Seq("uuid"))
        .upsert(Seq(("id2", "Emma", 20)).toDF("uuid", "name", "age"), Seq(col("uuid")))
      assert(spark.sql("SELECT count(*) FROM mor_cat_t").head().getLong(0) == 2)
      // another session of the same application shares the external catalog
      val other = spark.newSession()
      assert(other.sql("SELECT count(*) FROM mor_cat_t").head().getLong(0) == 2)
    } finally spark.sql("DROP TABLE IF EXISTS mor_cat_t")
  }

  test("bootstrap option: pure-SQL zero-copy onboarding, idempotent across re-resolution") {
    val ext = TestSpark.tmpDir("dsv1-bootstrap-src")
    Seq(("id1", "Danny", 23), ("id2", "Emma", 20)).toDF("uuid", "name", "age")
      .write.mode("overwrite").parquet(ext)
    val path = TestSpark.tmpDir("dsv1-bootstrap")
    spark.sql(s"CREATE TABLE mor_boot_t USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'uuid', bootstrap '$ext')")
    try {
      // the CREATE/first read adopted the external dir — one instant,
      // no managed base
      assert(spark.sql("SELECT count(*) FROM mor_boot_t").head().getLong(0) == 2)
      assert(!new java.io.File(s"$path/base").exists())
      // upserts layer on top; the next resolution must NOT re-bootstrap
      spark.sql("INSERT INTO mor_boot_t VALUES ('id3', 'Han', 56)")
      assert(spark.sql("SELECT count(*) FROM mor_boot_t").head().getLong(0) == 3)
      assert(MorTable(spark, path, Seq("uuid")).timeline()
        .count(_.bootstrapDir.isDefined) == 1, "bootstrap must be idempotent")
      // external dir never touched
      assert(spark.read.parquet(ext).count() == 2)
    } finally spark.sql("DROP TABLE IF EXISTS mor_boot_t")
  }

  test("bootstrap option, partitioned route: Hive layout adopted zero-copy in pure SQL") {
    val ext = TestSpark.tmpDir("dsv1-bootstrap-psrc")
    Seq(("id1", 23, "a"), ("id2", 20, "a"), ("id3", 56, "b"))
      .toDF("uuid", "age", "pt")
      .write.partitionBy("pt").mode("overwrite").parquet(ext)
    val path = TestSpark.tmpDir("dsv1-bootstrap-part")
    spark.sql(s"CREATE TABLE mor_boot_pt USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'uuid', partition 'pt', bootstrap '$ext')")
    try {
      assert(spark.sql("SELECT count(*) FROM mor_boot_pt").head().getLong(0) == 3)
      // partition pruning + the reconstructed partition column
      assert(spark.sql(
        "SELECT count(*) FROM mor_boot_pt WHERE pt = 'b'").head().getLong(0) == 1)
      Seq("a", "b").foreach(v =>
        assert(!new java.io.File(s"$path/p=$v/base").exists(),
          "partitioned bootstrap must be zero-copy"))
      // upserts layer; the next resolution must NOT re-bootstrap
      // relation column order is keys, partition, then data cols
      spark.sql("INSERT INTO mor_boot_pt VALUES ('id4', 'b', 31)")
      assert(spark.sql("SELECT count(*) FROM mor_boot_pt").head().getLong(0) == 4)
      assert(graft.lake.PartitionedMorTable
        .resolve(spark, path, Seq("uuid"), "pt").parentTimeline()
        .count(_.bootstrapDir.isDefined) == 1, "bootstrap must be idempotent")
      assert(spark.read.parquet(ext).count() == 3)
    } finally spark.sql("DROP TABLE IF EXISTS mor_boot_pt")
  }

  test("CREATE TABLE … SHALLOW CLONE: DDL spelling routes onto cloneTo, both table forms") {
    val srcPath = TestSpark.tmpDir("ddl-clone-src")
    Seq(("id1", "Danny", 23), ("id2", "Emma", 20)).toDF("uuid", "name", "age")
      .write.format("graft.mor").option("path", srcPath).option("keys", "uuid")
      .save()
    spark.sql(s"CREATE TABLE clone_src USING `graft.mor` OPTIONS " +
      s"(path '$srcPath', keys 'uuid')")
    try {
      // boundary refusal surfaces through the DDL: live delta, no base yet
      val dstPath = TestSpark.tmpDir("ddl-clone-dst")
      intercept[IllegalStateException](spark.sql(
        s"CREATE TABLE clone_dst SHALLOW CLONE clone_src LOCATION '$dstPath'"))
      graft.lake.MorTable.resolve(spark, srcPath, Seq("uuid")).compact()
      spark.sql(s"CREATE TABLE clone_dst SHALLOW CLONE clone_src LOCATION '$dstPath'")
      // zero-copy + the source-side pin landed
      assert(!new java.io.File(s"$dstPath/base").exists())
      assert(graft.lake.MorTable.resolve(spark, srcPath, Seq("uuid"))
        .savepoints().keys.exists(_.startsWith("clone_")))
      // the clone is immediately SELECT-able and independently writable
      assert(spark.sql("SELECT count(*) FROM clone_dst").head().getLong(0) == 2)
      spark.sql("INSERT INTO clone_dst VALUES ('id3', 'Han', 56)")
      assert(spark.sql("SELECT count(*) FROM clone_dst").head().getLong(0) == 3)
      assert(spark.sql("SELECT count(*) FROM clone_src").head().getLong(0) == 2,
        "clone writes must not leak into the source")
      // IF NOT EXISTS on a taken name: no-op, no second pin
      spark.sql("CREATE TABLE IF NOT EXISTS clone_dst SHALLOW CLONE clone_src")
      intercept[IllegalArgumentException](spark.sql(
        "CREATE TABLE clone_dst SHALLOW CLONE clone_src"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS clone_dst")
      spark.sql("DROP TABLE IF EXISTS clone_src")
    }
  }

  test("reader access policy: column masks and row filter on the catalog surface") {
    val path = TestSpark.tmpDir("dsv1-policy")
    Seq(("id1", "alice@x.com ok", 30, "a"), ("id2", "plain", 20, "b"),
      ("id3", "bob@y.org hi", 40, "a"), ("id4", "zz", 10, "c"))
      .toDF("uuid", "note", "age", "grp")
      .write.format("graft.mor").option("path", path).option("keys", "uuid").save()
    spark.sql("DROP TABLE IF EXISTS policy_t")
    spark.sql(s"CREATE TABLE policy_t USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'uuid', 'mask.note'='pii', 'mask.grp'='md5', " +
      s"'filter.where'='age >= 20')")
    try {
      // row filter: id4 (age 10) is invisible
      assert(spark.sql("SELECT uuid FROM policy_t").collect()
        .map(_.getString(0)).toSet == Set("id1", "id2", "id3"))
      // pii mask redacts emails; untouched text passes through
      val notes = spark.sql("SELECT uuid, note FROM policy_t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(!notes("id1").contains("alice@x.com") && notes("id1").contains("ok"))
      assert(notes("id2") == "plain")
      // a PUSHED predicate on a masked column sees MASKED semantics:
      // probing the md5 of 'a' finds the two 'a' rows; probing raw 'a'
      // finds nothing (never leak raw matches)
      val h = spark.sql("SELECT md5('a') AS h").head().getString(0)
      assert(spark.sql(s"SELECT uuid FROM policy_t WHERE grp = '$h'").collect()
        .map(_.getString(0)).toSet == Set("id1", "id3"))
      assert(spark.sql("SELECT uuid FROM policy_t WHERE grp = 'a'").isEmpty)
      // count(*) respects the row filter (metadata-count fails closed)
      val t = graft.lake.MorTable.resolve(spark, path, Seq("uuid"))
      t.compact() // a clean boundary would otherwise enable the rewrite
      assert(spark.sql("SELECT count(*) AS n FROM policy_t").head().getLong(0) == 3)
      // masking a KEY column is refused loudly (at CREATE or first scan,
      // whichever constructs the relation)
      spark.sql("DROP TABLE IF EXISTS policy_bad")
      intercept[Exception] {
        spark.sql(s"CREATE TABLE policy_bad USING `graft.mor` OPTIONS " +
          s"(path '$path', keys 'uuid', 'mask.uuid'='md5')")
        spark.sql("SELECT * FROM policy_bad").collect()
      }
      // masks fail CLOSED on a name mismatch (ADVICE r13): an unknown
      // column throws at relation creation instead of silently serving
      // raw values …
      spark.sql("DROP TABLE IF EXISTS policy_bad")
      intercept[Exception] {
        spark.sql(s"CREATE TABLE policy_bad USING `graft.mor` OPTIONS " +
          s"(path '$path', keys 'uuid', 'mask.notacolumn'='md5')")
        spark.sql("SELECT * FROM policy_bad").collect()
      }
      // … while a CASE-mismatched declaration resolves under the
      // session's (default case-insensitive) analysis and masks — the
      // same resolution a query against the column would get
      spark.sql("DROP TABLE IF EXISTS policy_case")
      spark.sql(s"CREATE TABLE policy_case USING `graft.mor` OPTIONS " +
        s"(path '$path', keys 'uuid', 'mask.GRP'='md5')")
      try {
        val g = spark.sql("SELECT grp FROM policy_case WHERE uuid = 'id2'")
          .head().getString(0)
        assert(g != "b" && g.length == 32, s"case-mismatched mask must apply ($g)")
        // a case-mismatched KEY mask is still a key mask — refused
        spark.sql("DROP TABLE IF EXISTS policy_bad")
        intercept[Exception] {
          spark.sql(s"CREATE TABLE policy_bad USING `graft.mor` OPTIONS " +
            s"(path '$path', keys 'uuid', 'mask.UUID'='md5')")
          spark.sql("SELECT * FROM policy_bad").collect()
        }
      } finally spark.sql("DROP TABLE IF EXISTS policy_case")
      // CDC reads mask the BEFORE image too: the changelog of a masked
      // relation must not leak the raw previous value
      spark.sql("DROP TABLE IF EXISTS policy_cdc")
      spark.sql(s"CREATE TABLE policy_cdc USING `graft.mor` OPTIONS " +
        s"(path '$path', keys 'uuid', 'mask.grp'='md5', 'changelogFrom'='0')")
      try {
        val rows = spark.sql("SELECT grp, before_grp FROM policy_cdc").collect()
        assert(rows.nonEmpty)
        rows.foreach { r =>
          assert(r.isNullAt(0) || r.getString(0).length == 32)
          assert(r.isNullAt(1) || r.getString(1).length == 32)
        }
      } finally spark.sql("DROP TABLE IF EXISTS policy_cdc")
    } finally {
      spark.sql("DROP TABLE IF EXISTS policy_t")
      spark.sql("DROP TABLE IF EXISTS policy_bad")
    }
  }

  test("CREATE MATERIALIZED VIEW DDL: persistent declaration, stale fail-closed, " +
      "REFRESH, DROP") {
    val path = TestSpark.tmpDir("ddl-matview")
    Seq(("k1", "a", Some(10L)), ("k2", "a", None), ("k3", "b", Some(7L)))
      .toDF("k", "g", "v")
      .write.format("graft.mor").option("path", path).option("keys", "k").save()
    spark.sql("DROP TABLE IF EXISTS mvddl_t")
    spark.sql("DROP TABLE IF EXISTS mvddl_v")
    spark.sql(s"CREATE TABLE mvddl_t USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'k')")
    val viewPath = TestSpark.tmpDir("ddl-mvv-view")
    // match on the distinctive dir-name stem: FileScan locations in plan
    // strings truncate long paths, so full-path containment is fragile
    def served(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString().contains("ddl-mvv-view")
    val sql = "SELECT g, count(*) AS n, sum(v) AS sv, avg(v) AS av, " +
      "min(v) AS mn FROM mvddl_t GROUP BY g"
    try {
      // an unknown measure column is refused loudly, before anything builds
      intercept[Exception](spark.sql(
        "CREATE MATERIALIZED VIEW mv_bad ON mvddl_t GROUP BY g AS (sum(nope))"))
      // an unparseable measure is a declaration error
      intercept[Exception](spark.sql(
        "CREATE MATERIALIZED VIEW mv_bad ON mvddl_t GROUP BY g AS (median(v))"))
      spark.sql("CREATE MATERIALIZED VIEW mvddl_v ON mvddl_t GROUP BY g " +
        s"AS (count, sum(v), avg(v), min(v)) LOCATION '$viewPath'")
      // declaration persisted + fresh; the view is SELECTable by name
      val shown = spark.sql("SHOW MATERIALIZED VIEWS ON mvddl_t").collect()
      assert(shown.length == 1 && shown.head.getString(0) == "mvddl_v" &&
        shown.head.getBoolean(4))
      assert(spark.sql("SELECT * FROM mvddl_v").count() == 2)
      // MULTIPLE views per base: a second view at a different granularity
      // coexists; the rewrite picks by SHAPE (each query routes to the
      // view whose grouping answers it)
      spark.sql("CREATE MATERIALIZED VIEW mv_other ON mvddl_t GROUP BY k " +
        "AS (count, sum(v))")
      assert(spark.sql("SHOW MATERIALIZED VIEWS ON mvddl_t").count() == 2)
      spark.conf.set(graft.plans.ViewRewrite.confKey, "true")
      val byK = spark.sql("SELECT k, count(*) AS n FROM mvddl_t GROUP BY k")
      assert(byK.queryExecution.executedPlan.toString().contains("mv_other"),
        "the k-grouped query must route to the k-grouped view")
      assert(served(spark.sql(sql)), "the g-grouped query still routes to mvddl_v")
      // redeclaring an existing NAME on the same base is refused
      intercept[Exception](spark.sql(
        "CREATE MATERIALIZED VIEW mvddl_v ON mvddl_t GROUP BY k AS (count)"))
      spark.sql("DROP MATERIALIZED VIEW mv_other")
      assert(spark.sql("SHOW MATERIALIZED VIEWS ON mvddl_t").count() == 1)
      assert(served(spark.sql(sql)),
        "dropping one view must keep the base's others registered")
      // IF NOT EXISTS downgrades an existing NAME to a no-op
      spark.sql("CREATE MATERIALIZED VIEW IF NOT EXISTS mvddl_v ON mvddl_t " +
        "GROUP BY g AS (count)")
      // rewrite serves from the view (null-aware avg: a → (10+null)/1 = 10)
      spark.conf.set(graft.plans.ViewRewrite.confKey, "true")
      val fresh = spark.sql(sql)
      assert(served(fresh), "fresh view must serve")
      assert(fresh.collect().map(_.toSeq).toSet ==
        Set(Seq("a", 2L, 10L, 10.0, 10L), Seq("b", 1L, 7L, 7.0, 7L)))
      // a write past the watermark → stale → fail closed to the scan
      Seq(("k4", "b", Some(3L))).toDF("k", "g", "v")
        .write.format("graft.mor").option("path", path).option("keys", "k")
        .mode("append").save()
      val stale = spark.sql(sql)
      assert(!served(stale), "stale view must fail closed")
      assert(spark.sql("SHOW MATERIALIZED VIEWS ON mvddl_t")
        .collect().head.getBoolean(4) == false)
      // REFRESH brings it back, values track the new state
      spark.sql("REFRESH MATERIALIZED VIEW mvddl_v")
      val again = spark.sql(sql)
      assert(served(again), "refreshed view must serve")
      assert(again.collect().map(_.toSeq).toSet ==
        Set(Seq("a", 2L, 10L, 10.0, 10L), Seq("b", 2L, 10L, 5.0, 3L)))
      // group death: delete every 'a' row, refresh → group leaves the view
      val t = graft.lake.MorTable.resolve(spark, path, Seq("k"))
      t.deleteWhere(col("g") === "a")
      spark.sql("REFRESH MATERIALIZED VIEW mvddl_v")
      assert(spark.sql("SELECT * FROM mvddl_v").collect().map(_.getString(0))
        .toSeq == Seq("b"), "dead group must leave the view")
      val afterDel = spark.sql(sql)
      assert(served(afterDel))
      assert(afterDel.collect().map(_.toSeq).toSet ==
        Set(Seq("b", 2L, 10L, 5.0, 3L)))
      // DROP removes declaration, data and catalog entry
      spark.sql("DROP MATERIALIZED VIEW mvddl_v")
      assert(spark.sql("SHOW MATERIALIZED VIEWS ON mvddl_t").collect().isEmpty)
      assert(!served(spark.sql(sql)), "dropped view must never serve")
      intercept[Exception](spark.sql("SELECT * FROM mvddl_v").collect())
      spark.sql("DROP MATERIALIZED VIEW IF EXISTS mvddl_v") // no-op
      intercept[Exception](spark.sql("DROP MATERIALIZED VIEW mvddl_v"))
    } finally {
      spark.sql("DROP MATERIALIZED VIEW IF EXISTS mvddl_v")
      spark.sql("DROP MATERIALIZED VIEW IF EXISTS mv_other")
      spark.conf.unset(graft.plans.ViewRewrite.confKey)
      graft.plans.ViewRewrite.unregister(path)
      spark.sql("DROP TABLE IF EXISTS mvddl_t")
    }
  }

  test("WHERE-filtered materialized view: serves only the semantically-" +
      "matching filtered shape") {
    val path = TestSpark.tmpDir("ddl-fmv")
    Seq(("k1", "a", 10L), ("k2", "a", 2L), ("k3", "b", 7L), ("k4", "b", 4L))
      .toDF("k", "g", "v")
      .write.format("graft.mor").option("path", path).option("keys", "k").save()
    spark.sql("DROP TABLE IF EXISTS fmv_t")
    spark.sql("DROP TABLE IF EXISTS fmv_v")
    spark.sql(s"CREATE TABLE fmv_t USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'k')")
    val viewPath = TestSpark.tmpDir("ddl-fmvv")
    def served(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString().contains("ddl-fmvv")
    def rows3(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    try {
      spark.sql("CREATE MATERIALIZED VIEW fmv_v ON fmv_t " +
        "WHERE v > 5 AND g <> 'zz' GROUP BY g " +
        s"AS (count, sum(v)) LOCATION '$viewPath'")
      assert(spark.sql("SHOW MATERIALIZED VIEWS ON fmv_t")
        .collect().head.getString(5) == "v > 5 AND g <> 'zz'")
      spark.conf.set(graft.plans.ViewRewrite.confKey, "true")
      val truth = Set(("a", 1L, 10L), ("b", 1L, 7L))
      // verbatim predicate serves
      val q1 = spark.sql("SELECT g, count(*) AS n, sum(v) AS sv FROM fmv_t " +
        "WHERE v > 5 AND g <> 'zz' GROUP BY g")
      assert(served(q1), "verbatim filtered shape must serve")
      assert(rows3(q1) == truth)
      // COMMUTED conjunction is semantically equal — serves
      val q2 = spark.sql("SELECT g, count(*) AS n, sum(v) AS sv FROM fmv_t " +
        "WHERE g <> 'zz' AND v > 5 GROUP BY g")
      assert(served(q2), "commuted conjunction must serve")
      assert(rows3(q2) == truth)
      // a WEAKER predicate (one conjunct) must fail closed with the scan
      val q3 = spark.sql("SELECT g, count(*) AS n, sum(v) AS sv FROM fmv_t " +
        "WHERE v > 5 GROUP BY g")
      assert(!served(q3), "a different predicate must fail closed")
      assert(rows3(q3) == truth) // same rows here, but from the SCAN
      // the UNFILTERED shape must never touch the filtered view
      val q4 = spark.sql(
        "SELECT g, count(*) AS n, sum(v) AS sv FROM fmv_t GROUP BY g")
      assert(!served(q4), "the unfiltered shape must fail closed")
      assert(rows3(q4) == Set(("a", 2L, 12L), ("b", 2L, 11L)))
      // rows move IN and OUT of the slice; refresh tracks both directions
      Seq(("k1", "a", 1L), ("k2", "a", 9L)).toDF("k", "g", "v")
        .write.format("graft.mor").option("path", path).option("keys", "k")
        .mode("append").save()
      assert(!served(spark.sql("SELECT g, count(*) AS n, sum(v) AS sv " +
        "FROM fmv_t WHERE v > 5 AND g <> 'zz' GROUP BY g")), "stale fails closed")
      spark.sql("REFRESH MATERIALIZED VIEW fmv_v")
      val q5 = spark.sql("SELECT g, count(*) AS n, sum(v) AS sv FROM fmv_t " +
        "WHERE v > 5 AND g <> 'zz' GROUP BY g")
      assert(served(q5), "refreshed filtered view must serve")
      assert(rows3(q5) == Set(("a", 1L, 9L), ("b", 1L, 7L)),
        "k1 left the slice, k2 entered it")
    } finally {
      spark.sql("DROP MATERIALIZED VIEW IF EXISTS fmv_v")
      spark.conf.unset(graft.plans.ViewRewrite.confKey)
      graft.plans.ViewRewrite.unregister(path)
      spark.sql("DROP TABLE IF EXISTS fmv_t")
    }
  }

  test("OPTIMIZE / VACUUM DDL spellings route onto compact / clean") {
    val path = TestSpark.tmpDir("ddl-optimize")
    Seq(("id1", "Danny", 23), ("id2", "Emma", 20)).toDF("uuid", "name", "age")
      .write.format("graft.mor").option("path", path).option("keys", "uuid")
      .save()
    spark.sql(s"CREATE TABLE opt_t USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'uuid')")
    try {
      val t = graft.lake.MorTable.resolve(spark, path, Seq("uuid"))
      assert(t.readOptimized().isEmpty, "no base before the first OPTIMIZE")
      spark.sql("OPTIMIZE opt_t")
      assert(t.readOptimized().count() == 2, "OPTIMIZE must compact")
      // ZORDER BY spelling routes onto the clustering compaction and
      // publishes colstats for the z columns (header stat cols)
      spark.sql("INSERT INTO opt_t VALUES ('id3', 'Han', 56)")
      spark.sql("OPTIMIZE opt_t ZORDER BY (age)")
      assert(t.readForColRanges(Seq(("age", 20.0, 25.0))).count() == 2)
      // VACUUM removes the superseded base/delta dirs
      val before = new java.io.File(s"$path/base").list().length
      assert(before >= 2, s"two compacts must leave two base dirs ($before)")
      spark.sql("VACUUM opt_t")
      assert(new java.io.File(s"$path/base").list().length == 1,
        "VACUUM must clean superseded bases")
      assert(spark.sql("SELECT count(*) FROM opt_t").head().getLong(0) == 3)
      // a table NOT on a graft surface falls through to the delegate
      // parser (mixed-catalog sessions keep other formats' spellings —
      // ADVICE r13); vanilla Spark then rejects the statement itself
      intercept[org.apache.spark.sql.catalyst.parser.ParseException](
        spark.sql("OPTIMIZE no_such_table"))
      intercept[org.apache.spark.sql.catalyst.parser.ParseException](
        spark.sql("VACUUM no_such_table"))
      val plainTbl = "opt_plain_parquet"
      spark.sql(s"DROP TABLE IF EXISTS $plainTbl")
      spark.sql(s"CREATE TABLE $plainTbl (id INT) USING parquet")
      try intercept[org.apache.spark.sql.catalyst.parser.ParseException](
        spark.sql(s"OPTIMIZE $plainTbl"))
      finally spark.sql(s"DROP TABLE IF EXISTS $plainTbl")
    } finally spark.sql("DROP TABLE IF EXISTS opt_t")
  }

  test("CREATE INDEX DDL: record_index builds, column list declares secondary blooms") {
    val path = TestSpark.tmpDir("ddl-index")
    (0 until 200).map(i => (f"id$i%03d", i))
      .toDF("uuid", "age")
      .write.format("graft.mor").option("path", path).option("keys", "uuid")
      .option("write.tasks", "4").save()
    spark.sql(s"CREATE TABLE idx_t USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'uuid')")
    try {
      val t = graft.lake.MorTable.resolve(spark, path, Seq("uuid"))
      // record index needs a compacted base — the verb's refusal surfaces
      intercept[IllegalStateException](
        spark.sql("CREATE INDEX record_index ON idx_t"))
      // secondary CREATE INDEX builds synchronously (declare + compact,
      // blooms ride the stats pass); the record index then has a boundary
      spark.sql("CREATE INDEX age_idx ON idx_t (age)")
      spark.sql("CREATE INDEX record_index ON idx_t")
      assert(t.hasRecordIndex())
      val eq = t.readForColEquals("age", Seq(123))
      assert(eq.collect().map(_.getAs[String]("uuid")).toSeq == Seq("id123"))
      assert(eq.inputFiles.count(_.contains("/base/")) <
        t.read().inputFiles.count(_.contains("/base/")),
        "declared secondary index must prune base files after OPTIMIZE")
      // SQL point queries inherit the record index: the relation's key
      // route pins exactly one base file for a single-key probe (DSv1
      // relations report no inputFiles through spark.sql, so assert on
      // the relation's own scan)
      val point = spark.sql("SELECT uuid, age FROM idx_t WHERE uuid = 'id123'")
      assert(point.collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
        Seq("id123" -> 123))
      val rel = MorRelation(spark.sqlContext, path, Seq("uuid"))
      val routed = rel.scanWithFilters(Array("uuid", "age"),
        Array(org.apache.spark.sql.sources.EqualTo("uuid", "id123")))
      assert(routed.inputFiles.count(_.contains("/base/")) == 1,
        "the SQL key route must pin through the record index")
      // a column-free index must be the record_index
      intercept[IllegalArgumentException](
        spark.sql("CREATE INDEX whatever ON idx_t"))
      // SHOW INDEXES lists what the boundary can actually prune on
      val idx = spark.sql("SHOW INDEXES ON idx_t").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(idx == Set(("record_index", "record_level", "uuid"),
        ("age_bloom", "secondary_bloom", "age")))
    } finally spark.sql("DROP TABLE IF EXISTS idx_t")
  }

  test("CREATE INDEX DDL, partitioned: columns form declares on every child; " +
      "SHOW INDEXES reports per child") {
    val path = TestSpark.tmpDir("ddl-index-part")
    (0 until 120).map(i => (f"id$i%03d", if (i % 2 == 0) "a" else "b", i))
      .toDF("uuid", "pt", "age")
      .write.format("graft.mor").option("path", path).option("keys", "uuid")
      .option("partition", "pt").option("write.tasks", "4").save()
    spark.sql(s"CREATE TABLE idx_pt USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'uuid', partition 'pt')")
    try {
      val p = graft.lake.PartitionedMorTable.resolve(spark, path, Seq("uuid"), "pt")
      // the columns form routes through the partitioned table: declare on
      // every child + compact, so the blooms EXIST when the DDL returns
      spark.sql("CREATE INDEX age_idx ON idx_pt (age)")
      val eq = p.readForColEquals("age", Seq(57))
      assert(eq.collect().map(_.getAs[String]("uuid")).toSeq == Seq("id057"))
      val idx = spark.sql("SHOW INDEXES ON idx_pt").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      assert(idx.toSet == Set(("age_bloom", "secondary_bloom", "age", "a"),
        ("age_bloom", "secondary_bloom", "age", "b")),
        s"both children must list the bloom (${idx.mkString("; ")})")
      // record index on top: listed per child alongside the bloom
      spark.sql("CREATE INDEX record_index ON idx_pt")
      val idx2 = spark.sql("SHOW INDEXES ON idx_pt").collect()
        .map(r => (r.getString(0), r.getString(3))).toSet
      assert(idx2 == Set(("record_index", "a"), ("record_index", "b"),
        ("age_bloom", "a"), ("age_bloom", "b")))
      // post-compaction refresh visibility: a later PLAIN compaction
      // inherits the column set from each child's manifest header and the
      // record index refreshes — SHOW INDEXES is unchanged
      (200 until 260).map(i => (f"id$i%03d", if (i % 2 == 0) "a" else "b", i))
        .toDF("uuid", "pt", "age")
        .write.format("graft.mor").option("path", path).option("keys", "uuid")
        .option("partition", "pt").mode("append").save()
      spark.sql("OPTIMIZE idx_pt")
      val idx3 = spark.sql("SHOW INDEXES ON idx_pt").collect()
        .map(r => (r.getString(0), r.getString(3))).toSet
      assert(idx3 == idx2, "plain compaction must keep every index listed")
    } finally spark.sql("DROP TABLE IF EXISTS idx_pt")
  }

  test("SHOW INDEXES, partitioned: an index on SOME children lists only those") {
    val path = TestSpark.tmpDir("ddl-index-some")
    (0 until 60).map(i => (f"id$i%03d", if (i % 2 == 0) "a" else "b", i))
      .toDF("uuid", "pt", "age")
      .write.format("graft.mor").option("path", path).option("keys", "uuid")
      .option("partition", "pt").save()
    spark.sql(s"CREATE TABLE idx_some USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'uuid', partition 'pt')")
    try {
      val p = graft.lake.PartitionedMorTable.resolve(spark, path, Seq("uuid"), "pt")
      // programmatic per-child declaration (the asymmetric layout a real
      // lake accrues): child 'a' gets the bloom + record index, 'b' nothing
      p.child("a").indexColumns(Seq("age")).compact()
      p.child("a").buildRecordIndex()
      val idx = spark.sql("SHOW INDEXES ON idx_some").collect()
        .map(r => (r.getString(0), r.getString(3))).toSet
      assert(idx == Set(("record_index", "a"), ("age_bloom", "a")),
        s"only child a is indexed ($idx)")
    } finally spark.sql("DROP TABLE IF EXISTS idx_some")
  }

  test("composite-key SQL point routing: equality on ALL key columns " +
      "inherits the record index") {
    val path = TestSpark.tmpDir("ddl-index-composite")
    (0 until 200).map(i => (f"u$i%03d", i % 7, i))
      .toDF("uid", "region", "age")
      .write.format("graft.mor").option("path", path)
      .option("keys", "uid,region").option("write.tasks", "4").save()
    spark.sql(s"CREATE TABLE idx_ck USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'uid,region')")
    try {
      spark.sql("OPTIMIZE idx_ck")
      spark.sql("CREATE INDEX record_index ON idx_ck")
      // SQL point query with a conjunction covering BOTH key columns
      val point = spark.sql(
        "SELECT uid, region, age FROM idx_ck WHERE uid = 'u123' AND region = 4")
      assert(point.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
        .toSeq == Seq(("u123", 4, 123)))
      // the route builds the composite _record_key exactly as the writer
      // (concat_ws "|") and pins through the index: exactly one base file
      val rel = MorRelation(spark.sqlContext, path, Seq("uid", "region"))
      val routed = rel.scanWithFilters(Array("uid", "region", "age"),
        Array(org.apache.spark.sql.sources.EqualTo("uid", "u123"),
          org.apache.spark.sql.sources.EqualTo("region", 4)))
      assert(routed.collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
        Seq("u123" -> 4))
      assert(routed.inputFiles.count(_.contains("/base/")) == 1,
        "composite-key SQL route must pin through the record index")
      // an IN on one key column × equality on the other routes too
      // IN × equality cross-product: u123 (123%7=4) and u060 (60%7=4)
      // both exist at region 4; u061 (61%7=5) builds composite u061|4
      // which matches nothing — probed but correctly absent
      val multi = rel.scanWithFilters(Array("uid", "age"),
        Array(org.apache.spark.sql.sources.In("uid",
            Array("u123", "u060", "u061")),
          org.apache.spark.sql.sources.EqualTo("region", 4)))
      assert(multi.collect().map(_.getString(0)).toSet == Set("u123", "u060"))
      // a PARTIAL key conjunction must NOT route (falls back to the scan)
      val partial = rel.scanWithFilters(Array("uid", "age"),
        Array(org.apache.spark.sql.sources.EqualTo("uid", "u123")))
      assert(partial.collect().map(_.getString(0)).toSeq == Seq("u123"),
        "partial-key filter still answers correctly via the full scan")
      assert(partial.inputFiles.count(_.contains("/base/")) > 1,
        "partial key must not pretend to route")
    } finally spark.sql("DROP TABLE IF EXISTS idx_ck")
  }

  test("OPTIMIZE, partitioned route: every child compacts") {
    val path = TestSpark.tmpDir("ddl-optimize-part")
    Seq(("id1", "a", 1), ("id2", "b", 2)).toDF("uuid", "pt", "v")
      .write.format("graft.mor").option("path", path).option("keys", "uuid")
      .option("partition", "pt").save()
    spark.sql(s"CREATE TABLE opt_pt USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'uuid', partition 'pt')")
    try {
      val p = graft.lake.PartitionedMorTable.resolve(spark, path, Seq("uuid"), "pt")
      assert(p.readOptimized().isEmpty)
      spark.sql("OPTIMIZE opt_pt")
      assert(p.readOptimized().count() == 2,
        "partitioned OPTIMIZE must compact every child")
    } finally spark.sql("DROP TABLE IF EXISTS opt_pt")
  }

  test("CREATE TABLE … SHALLOW CLONE, partitioned route") {
    val srcPath = TestSpark.tmpDir("ddl-pclone-src")
    Seq(("id1", "a", 1), ("id2", "b", 2)).toDF("uuid", "pt", "v")
      .write.format("graft.mor").option("path", srcPath).option("keys", "uuid")
      .option("partition", "pt").save()
    spark.sql(s"CREATE TABLE pclone_src USING `graft.mor` OPTIONS " +
      s"(path '$srcPath', keys 'uuid', partition 'pt')")
    try {
      graft.lake.PartitionedMorTable.resolve(spark, srcPath, Seq("uuid"), "pt")
        .compactPartitions(Seq("a", "b"))
      val dstPath = TestSpark.tmpDir("ddl-pclone-dst")
      spark.sql(s"CREATE TABLE pclone_dst SHALLOW CLONE pclone_src LOCATION '$dstPath'")
      assert(!new java.io.File(s"$dstPath/p=a/base").exists(),
        "partitioned DDL clone must be zero-copy")
      assert(spark.sql("SELECT count(*) FROM pclone_dst").head().getLong(0) == 2)
      // partition pruning works through the cloned catalog entry
      assert(spark.sql("SELECT count(*) FROM pclone_dst WHERE pt = 'a'")
        .head().getLong(0) == 1)
    } finally {
      spark.sql("DROP TABLE IF EXISTS pclone_dst")
      spark.sql("DROP TABLE IF EXISTS pclone_src")
    }
  }

  test("asOf time-travel and sinceSeq incremental reads through the format") {
    val path = TestSpark.tmpDir("dsv1-tt")
    def df(pairs: (String, Int)*) = pairs.toSeq.toDF("uuid", "v")
    df("id1" -> 1, "id2" -> 2).write.format("graft.mor")
      .option("keys", "uuid").save(path)                        // commit 1
    df("id1" -> 10).write.format("graft.mor")
      .option("keys", "uuid").mode("append").save(path)         // commit 2
    val asOf1 = spark.read.format("graft.mor")
      .option("keys", "uuid").option("asOf", "1").load(path)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(asOf1 == Map("id1" -> 1, "id2" -> 2))
    val incr = spark.read.format("graft.mor")
      .option("keys", "uuid").option("sinceSeq", "1").load(path)
    val touched = incr.collect().map(r => (r.getAs[String]("uuid"), r.getAs[Int]("v")))
    assert(touched.toSeq == Seq(("id1", 10)), "incremental pull = commit-2 net effect only")
    assert(incr.columns.contains("_deleted"), "incremental keeps tombstone visibility")
  }

  test("readOptimized option: base-only freshness at the compaction boundary (_ro/_rt pair)") {
    val path = TestSpark.tmpDir("dsv1-ro")
    val t = new MorTable(spark, path, Seq("uuid"),
      compactionDeltaCommits = 1000, autoCompact = false)
    def ro = spark.read.format("graft.mor")
      .option("keys", "uuid").option("readOptimized", "true").load(path)
    def rt = spark.read.format("graft.mor").option("keys", "uuid").load(path)
    t.upsert(Seq(("id1", 1), ("id2", 2)).toDF("uuid", "v"), Nil, batchId = 1L)
    // never compacted: RO is EMPTY (no base parquet yet), realtime sees all
    assert(ro.count() == 0 && rt.count() == 2)
    t.compact()
    assert(ro.collect().map(r => (r.getString(0), r.getInt(1))).toMap ==
      Map("id1" -> 1, "id2" -> 2))
    // post-compaction delta: realtime advances, RO stays at the boundary
    t.upsert(Seq(("id1", 10), ("id3", 3)).toDF("uuid", "v"), Nil, batchId = 2L)
    t.delete(Seq("id2").toDF("uuid"), batchId = 3L)
    assert(rt.collect().map(r => (r.getString(0), r.getInt(1))).toMap ==
      Map("id1" -> 10, "id3" -> 3))
    assert(ro.collect().map(r => (r.getString(0), r.getInt(1))).toMap ==
      Map("id1" -> 1, "id2" -> 2), "RO freshness = last compaction")
    // next compaction advances the RO boundary (id2's tombstone applied)
    t.compact()
    assert(ro.collect().map(r => (r.getString(0), r.getInt(1))).toMap ==
      Map("id1" -> 10, "id3" -> 3))
    // the classic two-table registration: t_ro next to t_rt
    spark.sql(s"CREATE TABLE mor_ro_t USING `graft.mor` OPTIONS " +
      s"(path '$path', keys 'uuid', readOptimized 'true')")
    try {
      t.upsert(Seq(("id4", 4)).toDF("uuid", "v"), Nil, batchId = 4L)
      assert(spark.sql("SELECT count(*) FROM mor_ro_t").head().getLong(0) == 2,
        "catalog RO table excludes the live delta")
      // RO is read-only and never time-travels
      val e = intercept[Exception](spark.sql(
        "INSERT INTO mor_ro_t VALUES ('id9', 9)"))
      assert(e.getMessage.contains("read-optimized"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS mor_ro_t")
    intercept[IllegalArgumentException] {
      spark.read.format("graft.mor").option("keys", "uuid")
        .option("readOptimized", "true").option("asOf", "1").load(path)
    }
    // partitioned form: per-child boundaries, partition pruning intact
    val ppath = TestSpark.tmpDir("dsv1-ro-part")
    val pt = new graft.lake.PartitionedMorTable(spark, ppath, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    pt.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"), Nil, batchId = 1L)
    pt.compactPartitions(Seq("a")) // only a's boundary advances
    pt.upsert(Seq((1L, "a", 11), (3L, "b", 30)).toDF("k", "p", "v"), Nil, batchId = 2L)
    val pro = spark.read.format("graft.mor").option("keys", "k")
      .option("partition", "p").option("readOptimized", "true").load(ppath)
    assert(pro.collect().map(r => (r.getAs[Long]("k"), r.getAs[Int]("v"))).toMap ==
      Map(1L -> 10), "RO = compacted children only, each at its own boundary")
    assert(pro.filter(col("p") === "b").count() == 0, "b never compacted")
  }

  test("SQL INSERT INTO is a keyed upsert; INSERT OVERWRITE replaces (CTAS + InsertableRelation)") {
    val path = TestSpark.tmpDir("dsv1-insert")
    spark.sql("DROP TABLE IF EXISTS mor_ins_t")
    try {
      spark.sql(
        s"""CREATE TABLE mor_ins_t USING `graft.mor` OPTIONS (path '$path', keys 'uuid')
           |AS SELECT * FROM VALUES ('id1', 'Danny', 23), ('id2', 'Emma', 20)
           |   AS t(uuid, name, age)""".stripMargin)
      // INSERT INTO = upsert: id1 replaced in place, id3 added
      spark.sql(
        "INSERT INTO mor_ins_t VALUES ('id1', 'Dan', 24), ('id3', 'Ada', 31)")
      val got = spark.sql("SELECT * FROM mor_ins_t ORDER BY uuid")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      assert(got.toSeq == Seq(("id1", "Dan", 24), ("id2", "Emma", 20), ("id3", "Ada", 31)))
      // INSERT OVERWRITE replaces the table contents
      spark.sql("INSERT OVERWRITE mor_ins_t VALUES ('id9', 'Zoe', 1)")
      assert(spark.sql("SELECT uuid FROM mor_ins_t").collect().map(_.getString(0)).toSeq
        == Seq("id9"))
    } finally spark.sql("DROP TABLE IF EXISTS mor_ins_t")
  }

  test("partition option routes through PartitionedMorTable: pruned reads, SQL INSERT upsert") {
    val path = TestSpark.tmpDir("dsv1-part")
    def w(rows: (String, String, Int)*) = rows.toSeq.toDF("uuid", "kind", "v")
      .write.format("graft.mor").option("keys", "uuid").option("partition", "kind")
      .mode("append").save(path)
    w(("id1", "a", 1), ("id2", "b", 2))
    w(("id1", "a", 10), ("id3", "b", 3)) // id1 upserted within its partition
    def read(opts: Map[String, String] = Map.empty) = {
      val r = spark.read.format("graft.mor")
        .option("keys", "uuid").option("partition", "kind")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(path)
    }
    assert(read().collect().map(r => (r.getAs[String]("uuid"), r.getAs[Int]("v"))).toMap
      == Map("id1" -> 10, "id2" -> 2, "id3" -> 3))
    // pruned read sees only the named partition
    assert(read(Map("partitionValues" -> "b")).select("uuid")
      .collect().map(_.getString(0)).toSet == Set("id2", "id3"))
    // SQL over the partitioned form: catalog registration + INSERT INTO upsert
    spark.sql("DROP TABLE IF EXISTS mor_part_t")
    try {
      spark.sql(s"CREATE TABLE mor_part_t USING `graft.mor` " +
        s"OPTIONS (path '$path', keys 'uuid', partition 'kind')")
      spark.sql("INSERT INTO mor_part_t VALUES ('id2', 'b', 20)")
      assert(spark.sql("SELECT v FROM mor_part_t WHERE uuid = 'id2'")
        .head().getInt(0) == 20)
    } finally spark.sql("DROP TABLE IF EXISTS mor_part_t")
  }

  test("PrunedFilteredScan: key equality routes to the point-read path, filters push, columns prune") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In, IsNotNull}
    val path = TestSpark.tmpDir("dsv1-push")
    (0 until 200).map(i => (s"k$i", s"n$i", i)).toDF("uuid", "name", "age")
      .write.format("graft.mor").option("keys", "uuid").mode("append").save(path)
    val rel = MorRelation(spark.sqlContext, path, Seq("uuid"))
    // key equality → readForKeys → pushed In(_record_key) on every scan
    val point = rel.scanWithFilters(Array("uuid", "age"), Array(EqualTo("uuid", "k7")))
    val pointPlan = point.queryExecution.executedPlan.toString
    // single-element In(_record_key) folds to EqualTo in the pushed filters
    assert(pointPlan.contains("EqualTo(_record_key,k7)") ||
      pointPlan.contains("In(_record_key"),
      s"key filter must route down the point-read path:\n$pointPlan")
    assert(point.collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("k7", 7)))
    assert(point.schema.fieldNames.toSeq == Seq("uuid", "age"), "column pruning lost")
    // IN on the key routes the same way
    val multi = rel.scanWithFilters(Array("uuid"),
      Array(In("uuid", Array("k1", "k3"))))
    assert(multi.queryExecution.executedPlan.toString.contains("In(_record_key"))
    assert(multi.as[String].collect().sorted.toSeq == Seq("k1", "k3"))
    // non-key filters still push into the parquet scan of the inner plan
    val ranged = rel.scanWithFilters(Array("uuid", "age"),
      Array(GreaterThan("age", 197), IsNotNull("age")))
    assert(ranged.collect().map(_.getInt(1)).sorted.toSeq == Seq(198, 199))
    val rangedPlan = ranged.queryExecution.executedPlan.toString
    assert(rangedPlan.contains("GreaterThan(age,197)"),
      s"pushed filter must reach the scan:\n$rangedPlan")
    // the SQL surface end-to-end: catalog table + WHERE key = value
    spark.sql(s"CREATE TABLE mor_push_t USING `graft.mor` OPTIONS (path '$path', keys 'uuid')")
    try assert(spark.sql("SELECT age FROM mor_push_t WHERE uuid = 'k42'")
      .head().getInt(0) == 42)
    finally spark.sql("DROP TABLE mor_push_t")
  }

  test("PrunedFilteredScan: key RANGE on a string key prunes base files at the listing level") {
    import org.apache.spark.sql.sources.{GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
    val path = TestSpark.tmpDir("dsv1-krange")
    val t = new MorTable(spark, path, Seq("uuid"),
      compactionDeltaCommits = 1000, autoCompact = false, writePartitions = 4)
    import spark.implicits._
    t.upsert((0 until 400).map(i => (f"k$i%03d", i)).toDF("uuid", "v"),
      Seq(col("v")), batchId = 1L)
    t.compact() // 4 range-partitioned base files with disjoint key bounds
    val rel = MorRelation(spark.sqlContext, path, Seq("uuid"))
    // both-sided range → readForKeyRange: whole files skip via manifest
    // key bounds before any task
    val ranged = rel.scanWithFilters(Array("uuid", "v"),
      Array(GreaterThanOrEqual("uuid", "k100"), LessThan("uuid", "k150")))
    assert(ranged.inputFiles.count(_.contains("/base/")) < 4,
      "a narrow key range must not open every base file")
    assert(ranged.collect().map(_.getInt(1)).sorted.toSeq == (100 until 150).toSeq)
    // exclusive/inclusive variants shift by the UTF8 successor — exact
    val excl = rel.scanWithFilters(Array("uuid", "v"),
      Array(GreaterThan("uuid", "k100"), LessThanOrEqual("uuid", "k103")))
    assert(excl.collect().map(_.getInt(1)).sorted.toSeq == Seq(101, 102, 103))
    // one-sided ranges keep the full-scan path (still correct)
    val oneSided = rel.scanWithFilters(Array("uuid", "v"),
      Array(GreaterThanOrEqual("uuid", "k398")))
    assert(oneSided.collect().map(_.getInt(1)).sorted.toSeq == Seq(398, 399))
  }

  test("write expectations: FAIL refuses the commit pre-publish; DROP quarantines rows") {
    val path = TestSpark.tmpDir("dsv1-expect")
    import spark.implicits._
    val t = new MorTable(spark, path, Seq("uuid"),
      compactionDeltaCommits = 1000, autoCompact = false)
      .withExpectations(Seq("positive_v" -> (col("v") >= 0)))
    t.upsert(Seq(("id1", 5), ("id2", 7)).toDF("uuid", "v"), Nil, batchId = 1L)
    // FAIL mode: a violating batch is refused BEFORE its instant publishes
    val before = t.timeline().size
    val e = intercept[IllegalArgumentException](
      t.upsert(Seq(("id3", -1), ("id4", 9)).toDF("uuid", "v"), Nil, batchId = 2L))
    assert(e.getMessage.contains("positive_v"), e.getMessage)
    assert(t.timeline().size == before, "refused commit must not publish")
    assert(t.read().count() == 2)
    // a deliberate refusal is not a crash: its inflight marker must be
    // released too, or rollback/restore would refuse with 'mid-publish'
    // for the next lease
    val fsys = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = fsys.listStatus(new org.apache.hadoop.fs.Path(path, "timeline"))
      .map(_.getPath.getName).filter(_.endsWith(".inflight")).toSeq
    assert(markers.isEmpty, s"refusal left inflight marker(s): ${markers.mkString(", ")}")
    // tombstones are exempt (their data columns are null by construction)
    t.delete(Seq("id1").toDF("uuid"), batchId = 3L)
    assert(t.read().count() == 1)
    // null predicate result PASSES (SQL CHECK-constraint semantics)
    t.upsert(Seq(("id5", null.asInstanceOf[Integer])).toDF("uuid", "v"),
      Nil, batchId = 4L)
    assert(t.read().count() == 2)
    // DROP mode: violating rows are filtered, the rest land
    val d = new MorTable(spark, TestSpark.tmpDir("dsv1-expect-drop"), Seq("uuid"),
      compactionDeltaCommits = 1000)
      .withExpectations(Seq("positive_v" -> (col("v") >= 0)), dropViolations = true)
    d.upsert(Seq(("a", 1), ("b", -2), ("c", 3)).toDF("uuid", "v"), Nil, batchId = 1L)
    assert(d.read().collect().map(_.getString(0)).sorted.toSeq == Seq("a", "c"))
    // DROP is PRE-dedup: a violating latest version must not shadow the
    // older passing version of the same key
    d.upsert(Seq(("a", 10, 1L), ("a", -5, 2L)).toDF("uuid", "v", "ord"),
      Seq(col("ord")), batchId = 2L)
    assert(d.read().filter(col("uuid") === "a").head().getInt(1) == 10,
      "the older passing version must survive the quarantined latest")
  }

  test("expect.* OPTIONS: the SQL/DataFrame/streaming write surface enforces expectations") {
    val path = TestSpark.tmpDir("dsv1-expect-opts")
    // DataFrame write path, FAIL mode (default)
    val e = intercept[Exception](
      Seq(("id1", -3)).toDF("uuid", "v").write.format("graft.mor")
        .option("keys", "uuid").option("expect.positive_v", "v >= 0")
        .mode("append").save(path))
    assert(e.getMessage.contains("positive_v"), e.getMessage)
    // DROP mode through options
    Seq(("id1", 4), ("id2", -7)).toDF("uuid", "v").write.format("graft.mor")
      .option("keys", "uuid").option("expect.positive_v", "v >= 0")
      .option("expect.mode", "drop").mode("append").save(path)
    assert(spark.read.format("graft.mor").option("keys", "uuid").load(path)
      .collect().map(_.getString(0)).toSeq == Seq("id1"))
    // SQL INSERT INTO through a catalog table declaring the expectation
    spark.sql("DROP TABLE IF EXISTS mor_exp_t")
    try {
      spark.sql(s"CREATE TABLE mor_exp_t USING `graft.mor` OPTIONS " +
        s"(path '$path', keys 'uuid', `expect.positive_v` 'v >= 0')")
      val e2 = intercept[Exception](
        spark.sql("INSERT INTO mor_exp_t VALUES ('id9', -1)"))
      assert(e2.getMessage.contains("positive_v"), e2.getMessage)
      spark.sql("INSERT INTO mor_exp_t VALUES ('id3', 5)")
      assert(spark.sql("SELECT uuid FROM mor_exp_t ORDER BY uuid")
        .collect().map(_.getString(0)).toSeq == Seq("id1", "id3"))
    } finally spark.sql("DROP TABLE IF EXISTS mor_exp_t")
  }

  test("quarantine expectations: violating rows land tagged in the side relation") {
    val path = TestSpark.tmpDir("dsv1-quarantine")
    val t = new MorTable(spark, path, Seq("uuid"),
      compactionDeltaCommits = 1000, autoCompact = false)
      .withExpectations(Seq(
        "positive_v" -> (col("v") >= 0),
        "small_v" -> (col("v") < 100)), "quarantine")
    t.upsert(Seq(("a", 1), ("b", -2), ("c", 500), ("d", -999))
      .toDF("uuid", "v"), Nil, batchId = 1L)
    // survivors committed; violators in the side relation with their rules
    assert(t.read().collect().map(_.getString(0)).sorted.toSeq == Seq("a"),
      "only the row passing every rule survives the gate")
    val q = t.readQuarantine().collect()
      .map(r => r.getAs[String]("uuid") -> r.getAs[String]("_rule")).toMap
    assert(q == Map("b" -> "positive_v", "c" -> "small_v",
      "d" -> "positive_v"), q)
    // the gate loses nothing: kept ∪ quarantined == input
    assert(t.read().count() + t.readQuarantine().count() == 4)
    // quarantine accumulates across commits (append semantics)
    t.upsert(Seq(("e", -1)).toDF("uuid", "v"), Nil, batchId = 2L)
    assert(t.readQuarantine().count() == 4)
    // pre-dedup gate: a violating LATEST must not shadow an older passing
    // version of the same key (same rule as DROP mode)
    t.upsert(Seq(("a", 7), ("a", -8)).toDF("uuid", "v"),
      Seq(col("v")), batchId = 3L)
    assert(t.read().filter(col("uuid") === "a").head().getInt(1) == 7)
    // the expect.mode='quarantine' option through the format write path
    val path2 = TestSpark.tmpDir("dsv1-quarantine-opt")
    Seq(("x", 4), ("y", -7)).toDF("uuid", "v").write.format("graft.mor")
      .option("keys", "uuid").option("expect.positive_v", "v >= 0")
      .option("expect.mode", "quarantine").mode("append").save(path2)
    val t2 = MorTable(spark, path2, Seq("uuid"))
    assert(t2.read().collect().map(_.getString(0)).toSeq == Seq("x"))
    assert(t2.readQuarantine().head().getAs[String]("_rule") == "positive_v")
    // loud when nothing was ever quarantined
    val path3 = TestSpark.tmpDir("dsv1-quarantine-none")
    val t3 = MorTable(spark, path3, Seq("uuid"))
    t3.upsert(Seq(("z", 1)).toDF("uuid", "v"), Nil, batchId = 1L)
    intercept[IllegalStateException](t3.readQuarantine())
    // partitioned form: parent-level side relation
    val ppath = TestSpark.tmpDir("dsv1-quarantine-part")
    Seq(("p1", "a", 5), ("p2", "b", -6)).toDF("uuid", "kind", "v")
      .write.format("graft.mor").option("keys", "uuid")
      .option("partition", "kind").option("expect.positive_v", "v >= 0")
      .option("expect.mode", "quarantine").mode("append").save(ppath)
    val pt = new graft.lake.PartitionedMorTable(spark, ppath, Seq("uuid"), "kind")
    assert(pt.read().collect().map(_.getString(0)).toSeq == Seq("p1"))
    assert(pt.readQuarantine().collect()
      .map(r => r.getAs[String]("uuid") -> r.getAs[String]("_rule")).toMap ==
      Map("p2" -> "positive_v"))
  }

  test("PrunedFilteredScan: partition equality prunes a partitioned table's scan") {
    import org.apache.spark.sql.sources.EqualTo
    val path = TestSpark.tmpDir("dsv1-push-part")
    Seq(("a", "p1", 1), ("b", "p1", 2), ("c", "p2", 3))
      .toDF("uuid", "part", "v")
      .write.format("graft.mor").option("keys", "uuid")
      .option("partition", "part").mode("append").save(path)
    val rel = MorRelation(spark.sqlContext, path, Seq("uuid"),
      partitionCol = Some("part"))
    val pruned = rel.scanWithFilters(Array("uuid", "v"), Array(EqualTo("part", "p1")))
    // only p1's child-table files are scanned — p2 never enters the plan
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("p=p1")),
      pruned.inputFiles.mkString("\n"))
    assert(pruned.collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
  }

  test("declared compaction/write policy persists and drives fresh-session handles") {
    val path = TestSpark.tmpDir("dsv1-policy")
    spark.sql("DROP TABLE IF EXISTS mor_pol_t")
    try {
      // CTAS declares the policy in OPTIONS (reference zpln:292,:2234:
      // compaction.delta_commits / delta_seconds / write.tasks)
      spark.sql(
        s"""CREATE TABLE mor_pol_t USING `graft.mor` OPTIONS (
           |  path '$path', keys 'uuid',
           |  `compaction.delta_commits` '3',
           |  `compaction.delta_seconds` '100000',
           |  `write.tasks` '2')
           |AS SELECT * FROM VALUES ('id1', 1) AS t(uuid, v)""".stripMargin)
      assert(MorTable.readPolicy(spark, path).contains(MorTable.Policy(3, 100000L, 2)),
        "declared policy must persist in manifest/policy.json")
      // a DIFFERENT session's catalog handle inherits the cadence: two more
      // INSERTs reach 3 delta commits and must trigger compaction — the
      // default cadence (2) would have compacted one commit early
      val other = spark.newSession()
      other.sql("INSERT INTO mor_pol_t VALUES ('id2', 2)")
      def t = MorTable.resolve(spark, path, Seq("uuid"))
      assert(!t.timeline().exists(_.kind == "compact"),
        "2 delta commits < declared delta_commits=3: must not compact yet")
      other.sql("INSERT INTO mor_pol_t VALUES ('id3', 3)")
      val tl = t.timeline()
      assert(tl.exists(_.kind == "compact"),
        "3rd delta commit must fire the declared cadence from a fresh session's handle")
      assert(tl.count(_.kind == "delta") == 3)
      // write.tasks=2 shapes the compacted base
      val baseSeq = tl.filter(_.kind == "compact").last.seq
      val baseFiles = new java.io.File(s"$path/base/$baseSeq")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(baseFiles == 2, s"write.tasks=2 → 2 base files, got $baseFiles")
      assert(spark.sql("SELECT count(*) FROM mor_pol_t").head().getLong(0) == 3)
    } finally spark.sql("DROP TABLE IF EXISTS mor_pol_t")
  }

  test("save modes: ErrorIfExists throws, Ignore no-ops, Overwrite replaces") {
    val path = TestSpark.tmpDir("dsv1-modes")
    def df(v: Int) = Seq(("id1", v)).toDF("uuid", "v")
    df(1).write.format("graft.mor").option("keys", "uuid").save(path)
    intercept[IllegalStateException] {
      df(2).write.format("graft.mor").option("keys", "uuid")
        .mode("errorifexists").save(path)
    }
    df(3).write.format("graft.mor").option("keys", "uuid").mode("ignore").save(path)
    assert(spark.read.format("graft.mor").option("keys", "uuid").load(path)
      .head().getInt(1) == 1)
    df(4).write.format("graft.mor").option("keys", "uuid").mode("overwrite").save(path)
    assert(spark.read.format("graft.mor").option("keys", "uuid").load(path)
      .head().getInt(1) == 4)
  }

  test("SQL DELETE FROM / UPDATE: analyst statements land as tombstone/upsert commits") {
    val path = TestSpark.tmpDir("dsv1-dml")
    spark.sql("DROP TABLE IF EXISTS mor_dml_t")
    try {
      spark.sql(
        s"""CREATE TABLE mor_dml_t USING `graft.mor` OPTIONS (path '$path', keys 'uuid')
           |AS SELECT * FROM VALUES ('id1', 'Danny', 23), ('id2', 'Emma', 20),
           |  ('id3', 'Ada', 31), ('id4', 'Bob', 40) AS t(uuid, name, age)""".stripMargin)
      val t = graft.lake.MorTable.resolve(spark, path, Seq("uuid"))
      val preDelete = t.timeline().last.seq
      spark.sql("DELETE FROM mor_dml_t WHERE age > 35")
      assert(spark.sql("SELECT uuid FROM mor_dml_t ORDER BY uuid")
        .collect().map(_.getString(0)).toSeq == Seq("id1", "id2", "id3"))
      // UPDATE with an expression referencing the existing row
      spark.sql("UPDATE mor_dml_t SET age = age + 1, name = upper(name) WHERE uuid = 'id1'")
      val got = spark.sql("SELECT name, age FROM mor_dml_t WHERE uuid = 'id1'").head()
      assert((got.getString(0), got.getInt(1)) == ("DANNY", 24))
      // key reassignment is refused loudly (record-key immutability)
      val e = intercept[Exception](
        spark.sql("UPDATE mor_dml_t SET uuid = 'id9' WHERE uuid = 'id2'").collect())
      assert(e.getMessage.contains("key column"), e.getMessage)
      // the delete really is a tombstone commit: time travel still sees id4
      assert(t.readAt(preDelete).count() == 4)
    } finally spark.sql("DROP TABLE IF EXISTS mor_dml_t")
  }

  test("SQL MERGE INTO: conditional update/delete/insert in one changelog commit") {
    val path = TestSpark.tmpDir("dsv1-merge")
    spark.sql("DROP TABLE IF EXISTS mor_mrg_t")
    try {
      spark.sql(
        s"""CREATE TABLE mor_mrg_t USING `graft.mor` OPTIONS (path '$path', keys 'uuid')
           |AS SELECT * FROM VALUES ('id1', 100, 'live'), ('id2', 200, 'live'),
           |  ('id3', 300, 'dead') AS t(uuid, balance, status)""".stripMargin)
      spark.sql(
        """MERGE INTO mor_mrg_t AS t
          |USING (SELECT * FROM VALUES ('id1', 5), ('id3', 7), ('id9', 9)
          |       AS s(uuid, delta)) AS s
          |ON t.uuid = s.uuid
          |WHEN MATCHED AND t.status = 'dead' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET balance = t.balance + s.delta
          |WHEN NOT MATCHED THEN INSERT (uuid, balance, status)
          |  VALUES (s.uuid, s.delta, 'new')""".stripMargin)
      val got = spark.sql("SELECT uuid, balance, status FROM mor_mrg_t ORDER BY uuid")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
      assert(got == Seq(("id1", 105, "live"), ("id2", 200, "live"),
        ("id9", 9, "new")), got)
      // cardinality violation fails loudly, not nondeterministically
      val e = intercept[Exception](spark.sql(
        """MERGE INTO mor_mrg_t AS t
          |USING (SELECT * FROM VALUES ('id1', 1), ('id1', 2) AS s(uuid, delta)) AS s
          |ON t.uuid = s.uuid
          |WHEN MATCHED THEN UPDATE SET balance = s.delta""".stripMargin).collect())
      assert(e.getMessage.contains("cardinality"), e.getMessage)
      // conditional insert: rows failing the insert condition are skipped
      spark.sql(
        """MERGE INTO mor_mrg_t AS t
          |USING (SELECT * FROM VALUES ('idA', 1), ('idB', -1) AS s(uuid, delta)) AS s
          |ON t.uuid = s.uuid
          |WHEN NOT MATCHED AND s.delta > 0 THEN INSERT (uuid, balance, status)
          |  VALUES (s.uuid, s.delta, 'new')""".stripMargin)
      assert(spark.sql("SELECT uuid FROM mor_mrg_t").collect().map(_.getString(0)).toSet
        == Set("id1", "id2", "id9", "idA"))
    } finally spark.sql("DROP TABLE IF EXISTS mor_mrg_t")
  }

  test("sizeInBytes statistic: a small mor dimension broadcasts in SQL joins") {
    val path = TestSpark.tmpDir("dsv1-stats")
    Seq(("id1", "x"), ("id2", "y")).toDF("uuid", "name")
      .write.format("graft.mor").option("keys", "uuid").save(path)
    val dim = spark.read.format("graft.mor").option("keys", "uuid").load(path)
    val fact = spark.range(0, 10000)
      .selectExpr("concat('id', (id % 3) + 1) AS uuid", "id AS v")
    val plan = fact.join(dim, "uuid").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny mor dim must broadcast, got:\n$plan")
  }

  test("rowCount statistic: CBO sees mor cardinality and reorders a 3-way join") {
    val dirB = TestSpark.tmpDir("dsv1-rc-big")
    val dirM = TestSpark.tmpDir("dsv1-rc-mid")
    val dirS = TestSpark.tmpDir("dsv1-rc-small")
    Seq("mor_rc_big", "mor_rc_mid", "mor_rc_small").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      spark.range(0, 2000).selectExpr("id AS k", "id AS vb")
        .write.format("graft.mor").option("keys", "k").save(dirB)
      spark.range(0, 200).selectExpr("id AS k", "id AS vm")
        .write.format("graft.mor").option("keys", "k").save(dirM)
      spark.range(0, 2).selectExpr("id AS k", "id AS vs")
        .write.format("graft.mor").option("keys", "k").save(dirS)
      // compact so the manifest header carries the base row total
      graft.lake.MorTable.resolve(spark, dirB, Seq("k")).compact()
      spark.sql(s"CREATE TABLE mor_rc_big USING `graft.mor` OPTIONS (path '$dirB', keys 'k')")
      spark.sql(s"CREATE TABLE mor_rc_mid USING `graft.mor` OPTIONS (path '$dirM', keys 'k')")
      spark.sql(s"CREATE TABLE mor_rc_small USING `graft.mor` OPTIONS (path '$dirS', keys 'k')")
      val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
      val prevReorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
      try {
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        // cardinality reaches the planner (header total on the compacted
        // table; footer counts on the delta-only ones)
        val st = spark.table("mor_rc_big").queryExecution.optimizedPlan.stats
        assert(st.rowCount.contains(BigInt(2000)),
          s"expected rowCount 2000, got ${st.rowCount}")
        // join-reorder-sensitive plan: parse order is (big ⋈ mid) ⋈ small;
        // with row counts the cost-based reorder starts from the small
        // sides instead — the bottom-most join must NOT pair big with mid
        val q = spark.sql(
          """SELECT b.vb FROM mor_rc_big b
            |JOIN mor_rc_mid m ON b.k = m.k
            |JOIN mor_rc_small s ON m.k = s.k""".stripMargin)
        import org.apache.spark.sql.catalyst.plans.logical.Join
        import org.apache.spark.sql.execution.datasources.LogicalRelation
        val joins = q.queryExecution.optimizedPlan.collect { case j: Join => j }
        assert(joins.nonEmpty)
        val bottom = joins.last // innermost join of the reordered tree
        val bottomTables = bottom.collectLeaves().collect {
          case lr: LogicalRelation => lr.catalogTable.map(_.identifier.table).getOrElse("")
        }.toSet
        assert(bottomTables != Set("mor_rc_big", "mor_rc_mid"),
          s"CBO must not keep the big-x-mid join innermost: $bottomTables")
        assert(q.collect().length == 2, "reorder must not change results")
      } finally {
        spark.conf.set("spark.sql.cbo.enabled", prevCbo)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
      }
    } finally Seq("mor_rc_big", "mor_rc_mid", "mor_rc_small").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("column NDV statistic: manifest HLL feeds CBO selectivity and changes the join order") {
    val dirB = TestSpark.tmpDir("dsv1-ndv-big")
    val dirM = TestSpark.tmpDir("dsv1-ndv-mid")
    val dirS = TestSpark.tmpDir("dsv1-ndv-small")
    Seq("mor_ndv_big", "mor_ndv_mid", "mor_ndv_small").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      spark.range(0, 2000).selectExpr("id AS k", "id % 1000 AS grp", "id AS vb")
        .write.format("graft.mor").option("keys", "k").save(dirB)
      spark.range(0, 200).selectExpr("id AS k", "id AS vm")
        .write.format("graft.mor").option("keys", "k").save(dirM)
      spark.range(0, 20).selectExpr("id AS k", "id AS vs")
        .write.format("graft.mor").option("keys", "k").save(dirS)
      // the z-order compaction declares grp a stat column → the manifest
      // stats pass publishes per-file HLL registers + the header NDV
      val tb = graft.lake.MorTable.resolve(spark, dirB, Seq("k"))
      tb.compactZOrder(Seq("grp"))
      val ndv = tb.colNdv()
      assert(ndv.contains("grp"), s"header must carry grp NDV, got $ndv")
      assert(math.abs(ndv("grp") - 1000L) <= 50L,
        s"HLL NDV must land within ~2 sigma of 1000, got ${ndv("grp")}")
      Seq(dirB -> "mor_ndv_big", dirM -> "mor_ndv_mid", dirS -> "mor_ndv_small")
        .foreach { case (d, t) => spark.sql(
          s"CREATE TABLE $t USING `graft.mor` OPTIONS (path '$d', keys 'k')") }
      val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
      val prevReorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
      try {
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        val bst = spark.table("mor_ndv_big").queryExecution.optimizedPlan.stats
        assert(bst.rowCount.contains(BigInt(2000)),
          s"expected rowCount 2000, got ${bst.rowCount}; attrs ${bst.attributeStats}")
        // selectivity-sensitive FILTER estimate: equality on grp must
        // divide by the NDV (2000/1000 = 2), not keep the full row count
        val fst = spark.sql("SELECT * FROM mor_ndv_big WHERE grp = 5")
          .queryExecution.optimizedPlan.stats
        assert(fst.rowCount.exists(rc => rc >= 1 && rc <= 50),
          s"grp = 5 must estimate ~2000/NDV rows, got ${fst.rowCount} " +
            s"(attrs ${bst.attributeStats})")
        // plan-change: with the filter estimated tiny, the cost-based
        // reorder keeps (filtered big ⋈ mid) innermost; without column
        // stats the same query reorders to (mid ⋈ small) first
        val q = spark.sql(
          """SELECT b.vb FROM mor_ndv_big b
            |JOIN mor_ndv_mid m ON b.k = m.k
            |JOIN mor_ndv_small s ON m.k = s.k
            |WHERE b.grp = 5""".stripMargin)
        import org.apache.spark.sql.catalyst.plans.logical.Join
        import org.apache.spark.sql.execution.datasources.LogicalRelation
        val joins = q.queryExecution.optimizedPlan.collect { case j: Join => j }
        assert(joins.nonEmpty)
        val bottomTables = joins.last.collectLeaves().collect {
          case lr: LogicalRelation =>
            lr.catalogTable.map(_.identifier.table).getOrElse("")
        }.toSet
        assert(bottomTables == Set("mor_ndv_big", "mor_ndv_mid"),
          s"NDV-estimated filter must keep big⋈mid innermost: $bottomTables")
        assert(q.collect().map(_.getLong(0)).toSeq == Seq(5L),
          "stats must never change results")
      } finally {
        spark.conf.set("spark.sql.cbo.enabled", prevCbo)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
      }
    } finally Seq("mor_ndv_big", "mor_ndv_mid", "mor_ndv_small").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("writeStream sink: one exactly-once upsert commit per micro-batch; restart resumes") {
    val watch = TestSpark.tmpDir("sink-watch")
    val path = TestSpark.tmpDir("sink-table")
    val ckpt = TestSpark.tmpDir("sink-ckpt")
    Seq(("id1", 1, 10L), ("id2", 2, 10L)).toDF("uuid", "v", "ord")
      .coalesce(1).write.parquet(s"$watch/seg1")
    Seq(("id1", 11, 20L), ("id3", 3, 20L)).toDF("uuid", "v", "ord")
      .coalesce(1).write.parquet(s"$watch/seg2")
    for ((seg, t) <- Seq("seg1" -> 1000L, "seg2" -> 5000L);
         f <- new java.io.File(s"$watch/$seg").listFiles())
      f.setLastModified(1700000000000L + t): Unit
    def run(): Unit = {
      val q = spark.readStream
        .schema(Seq.empty[(String, Int, Long)].toDF("uuid", "v", "ord").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$watch/*/")
        .writeStream.format("graft.mor")
        .option("keys", "uuid").option("order", "ord")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(path)
      q.awaitTermination(120000): Unit
    }
    run()
    val t = graft.lake.MorTable(spark, path, Seq("uuid"))
    assert(t.timeline().count(_.kind == "delta") == 2,
      "one commit per micro-batch expected")
    val got = t.read().collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(got == Map("id1" -> 11, "id2" -> 2, "id3" -> 3), got)
    // restart from the same checkpoint: nothing new → no duplicate commits
    run()
    assert(t.timeline().count(_.kind == "delta") == 2, "replayed batches must no-op")
    // a third segment lands; only IT commits
    Seq(("id2", 22, 30L)).toDF("uuid", "v", "ord")
      .coalesce(1).write.parquet(s"$watch/seg3")
    for (f <- new java.io.File(s"$watch/seg3").listFiles())
      f.setLastModified(1700000000000L + 9000L): Unit
    run()
    assert(t.timeline().count(_.kind == "delta") == 3)
    assert(t.read().filter(col("uuid") === "id2").head().getInt(1) == 22)
  }

  test("writeStream sink routes through the partitioned form") {
    val watch = TestSpark.tmpDir("psink-watch")
    val path = TestSpark.tmpDir("psink-table")
    Seq(("id1", "a", 1), ("id2", "b", 2), ("id1", "a", 10)).toDF("uuid", "kind", "v")
      .coalesce(1).write.parquet(s"$watch/seg1")
    val q = spark.readStream
      .schema(Seq.empty[(String, String, Int)].toDF("uuid", "kind", "v").schema)
      .parquet(s"$watch/*/")
      .writeStream.format("graft.mor")
      .option("keys", "uuid").option("partition", "kind").option("order", "v")
      .option("checkpointLocation", TestSpark.tmpDir("psink-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(path)
    q.awaitTermination(120000)
    val t = new graft.lake.PartitionedMorTable(spark, path, Seq("uuid"), "kind")
    assert(t.partitions().sorted == Seq("a", "b"))
    val got = t.read().collect().map(r => (r.getString(0), r.getInt(2))).toMap
    assert(got == Map("id1" -> 10, "id2" -> 2), got)
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF resolve to readAt") {
    val path = TestSpark.tmpDir("dsv1-tt")
    spark.sql("DROP TABLE IF EXISTS mor_tt_t")
    try {
      val t = graft.lake.MorTable(spark, path, Seq("uuid"),
        compactionDeltaCommits = 1000)
      t.upsert(Seq(("id1", 1), ("id2", 2)).toDF("uuid", "v"), Nil, batchId = 1L)
      t.upsert(Seq(("id1", 10), ("id3", 3)).toDF("uuid", "v"), Nil, batchId = 2L)
      spark.sql(s"CREATE TABLE mor_tt_t USING `graft.mor` OPTIONS (path '$path', keys 'uuid')")
      // current state
      assert(spark.sql("SELECT * FROM mor_tt_t").count() == 3)
      // as of commit 1: pre-upsert image
      val v1 = spark.sql("SELECT uuid, v FROM mor_tt_t VERSION AS OF 1")
        .collect().map(r => (r.getString(0), r.getInt(1))).toMap
      assert(v1 == Map("id1" -> 1, "id2" -> 2), v1)
      // timestamp at/after commit 1 but before commit 2 resolves to seq 1
      val ts1 = t.timeline().find(_.seq == 1L).get.commitMs
      val s = new java.sql.Timestamp(ts1).toString
      val byTs = spark.sql(s"SELECT uuid, v FROM mor_tt_t TIMESTAMP AS OF '$s'")
        .collect().map(r => (r.getString(0), r.getInt(1))).toMap
      assert(byTs == v1, byTs)
      // a timestamp before any commit fails loudly
      val e = intercept[Exception](spark.sql(
        "SELECT * FROM mor_tt_t TIMESTAMP AS OF '1999-01-01 00:00:00'").collect())
      assert(e.getMessage.contains("no commit at or before"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS mor_tt_t")
  }

  test("asOfTimestamp and changelogFrom reader options: CDC + timestamp travel via the format") {
    val path = TestSpark.tmpDir("dsv1-cdcopt")
    val t = graft.lake.MorTable(spark, path, Seq("uuid"), compactionDeltaCommits = 1000)
    t.upsert(Seq(("id1", 1), ("id2", 2)).toDF("uuid", "v"), Nil, batchId = 1L)
    t.upsert(Seq(("id1", 10), ("id3", 3)).toDF("uuid", "v"), Nil, batchId = 2L)
    t.delete(Seq("id2").toDF("uuid"), batchId = 3L)
    def read(opts: (String, String)*) = {
      val r = spark.read.format("graft.mor").option("keys", "uuid")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(path)
    }
    // CDC relation: net I/U/D with before images for tokens in (1, +inf)
    val cdc = read("changelogFrom" -> "1")
      .select("op", "uuid", "v", "before_v").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.get(2)), Option(r.get(3)))).toSet
    assert(cdc == Set(
      ("U", "id1", Some(10), Some(1)),
      ("I", "id3", Some(3), None),
      ("D", "id2", None, Some(2))), cdc)
    // bounded range: only commit 2's changes
    assert(read("changelogFrom" -> "1", "changelogTo" -> "2")
      .select("op").collect().map(_.getString(0)).sorted.toSeq == Seq("I", "U"))
    // timestamp travel through the reader option
    val ts1 = new java.sql.Timestamp(t.timeline().find(_.seq == 1L).get.commitMs).toString
    assert(read("asOfTimestamp" -> ts1).collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap == Map("id1" -> 1, "id2" -> 2))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: target-only rows update/delete") {
    val path = TestSpark.tmpDir("dsv1-nmbs")
    spark.sql("DROP TABLE IF EXISTS mor_nmbs_t")
    try {
      spark.sql(
        s"""CREATE TABLE mor_nmbs_t USING `graft.mor` OPTIONS (path '$path', keys 'uuid')
           |AS SELECT * FROM VALUES ('id1', 100, 'live'), ('id2', 200, 'live'),
           |  ('id3', 300, 'stale'), ('id4', 400, 'stale')
           |  AS t(uuid, balance, status)""".stripMargin)
      // the full sync shape: matched rows refresh, unmatched source rows
      // insert, target rows the source no longer carries retire (stale →
      // delete, live-but-unmatched → flagged)
      spark.sql(
        """MERGE INTO mor_nmbs_t AS t
          |USING (SELECT * FROM VALUES ('id1', 5), ('id9', 9) AS s(uuid, delta)) AS s
          |ON t.uuid = s.uuid
          |WHEN MATCHED THEN UPDATE SET balance = t.balance + s.delta
          |WHEN NOT MATCHED THEN INSERT (uuid, balance, status)
          |  VALUES (s.uuid, s.delta, 'new')
          |WHEN NOT MATCHED BY SOURCE AND t.status = 'stale' THEN DELETE
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'orphaned'
          |""".stripMargin)
      val got = spark.sql("SELECT uuid, balance, status FROM mor_nmbs_t ORDER BY uuid")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
      assert(got == Seq(("id1", 105, "live"), ("id2", 200, "orphaned"),
        ("id9", 9, "new")), got)
    } finally spark.sql("DROP TABLE IF EXISTS mor_nmbs_t")
  }

  test("SQL DML routes through the partitioned form (partition option)") {
    val path = TestSpark.tmpDir("dsv1-dml-part")
    spark.sql("DROP TABLE IF EXISTS mor_dmlp_t")
    try {
      Seq(("id1", "a", 1), ("id2", "a", 2), ("id3", "b", 3))
        .toDF("uuid", "kind", "v")
        .write.format("graft.mor").option("keys", "uuid")
        .option("partition", "kind").mode("append").save(path)
      spark.sql(s"CREATE TABLE mor_dmlp_t USING `graft.mor` " +
        s"OPTIONS (path '$path', keys 'uuid', partition 'kind')")
      spark.sql("DELETE FROM mor_dmlp_t WHERE v = 2")
      spark.sql("UPDATE mor_dmlp_t SET v = v * 10 WHERE kind = 'b'")
      spark.sql(
        """MERGE INTO mor_dmlp_t AS t
          |USING (SELECT * FROM VALUES ('id3', 'b', 5), ('id4', 'c', 4)
          |       AS s(uuid, kind, v)) AS s
          |ON t.uuid = s.uuid
          |WHEN MATCHED THEN UPDATE SET v = t.v + s.v
          |WHEN NOT MATCHED THEN INSERT (uuid, kind, v) VALUES (s.uuid, s.kind, s.v)""".stripMargin)
      val got = spark.sql("SELECT uuid, kind, v FROM mor_dmlp_t ORDER BY uuid")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
      assert(got == Seq(("id1", "a", 1), ("id3", "b", 35), ("id4", "c", 4)), got)
    } finally spark.sql("DROP TABLE IF EXISTS mor_dmlp_t")
  }

  test("SQL ALTER TABLE ADD COLUMNS: additive evolution; drops/renames refused") {
    val path = TestSpark.tmpDir("dsv1-alter")
    spark.sql("DROP TABLE IF EXISTS mor_alter_t")
    try {
      spark.sql(
        s"""CREATE TABLE mor_alter_t USING `graft.mor` OPTIONS (path '$path', keys 'uuid')
           |AS SELECT * FROM VALUES ('id1', 10) AS t(uuid, v)""".stripMargin)
      spark.sql("ALTER TABLE mor_alter_t ADD COLUMNS (tag STRING)")
      // pre-evolution rows read the new column as null (the s34 path)
      val r0 = spark.sql("SELECT uuid, v, tag FROM mor_alter_t").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
      assert(r0 == Set(("id1", 10, null)), r0)
      // INSERT carrying the new column lands through the widened schema
      spark.sql("INSERT INTO mor_alter_t VALUES ('id2', 20, 'new')")
      val got = spark.sql("SELECT uuid, v, tag FROM mor_alter_t ORDER BY uuid")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
      assert(got == Seq(("id1", 10, null), ("id2", 20, "new")), got)
      // adding an existing column fails loudly
      val e1 = intercept[Exception](
        spark.sql("ALTER TABLE mor_alter_t ADD COLUMNS (v INT)").collect())
      assert(e1.getMessage.toLowerCase.contains("already exist"), e1.getMessage)
      // drops and renames stay refused (v1 catalog), loudly — never silent
      intercept[Exception](
        spark.sql("ALTER TABLE mor_alter_t DROP COLUMN v").collect())
      intercept[Exception](
        spark.sql("ALTER TABLE mor_alter_t RENAME COLUMN v TO w").collect())
      // the refusals changed nothing
      assert(spark.sql("SELECT v FROM mor_alter_t").count() == 2)
    } finally spark.sql("DROP TABLE IF EXISTS mor_alter_t")
  }

  test("ALTER TABLE ADD COLUMNS routes through the partitioned form") {
    val path = TestSpark.tmpDir("dsv1-alter-part")
    spark.sql("DROP TABLE IF EXISTS mor_alterp_t")
    try {
      Seq(("id1", "a", 1), ("id2", "b", 2)).toDF("uuid", "kind", "v")
        .write.format("graft.mor").option("keys", "uuid")
        .option("partition", "kind").mode("append").save(path)
      spark.sql(s"CREATE TABLE mor_alterp_t USING `graft.mor` " +
        s"OPTIONS (path '$path', keys 'uuid', partition 'kind')")
      spark.sql("ALTER TABLE mor_alterp_t ADD COLUMNS (score DOUBLE)")
      spark.sql("INSERT INTO mor_alterp_t VALUES ('id3', 'a', 3, 0.5)")
      val got = spark.sql(
        "SELECT uuid, kind, v, score FROM mor_alterp_t ORDER BY uuid").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), Option(r.get(3)))).toSeq
      assert(got == Seq(("id1", "a", 1, None), ("id2", "b", 2, None),
        ("id3", "a", 3, Some(0.5))), got)
    } finally spark.sql("DROP TABLE IF EXISTS mor_alterp_t")
  }

  test("partitioned SELECT * / DESCRIBE column order: keys, partition, then data " +
      "columns in write order, through MERGE, deletes, ADD COLUMNS and OPTIMIZE") {
    val path = TestSpark.tmpDir("dsv1-colorder-part")
    spark.sql("DROP TABLE IF EXISTS mor_colorder_t")
    try {
      Seq(("x1", 1L, "a", 10), ("x2", 2L, "b", 20), ("x3", 3L, "a", 30))
        .toDF("note", "id", "kind", "qty")
        .write.format("graft.mor").option("keys", "id")
        .option("partition", "kind").mode("append").save(path)
      spark.sql(s"CREATE TABLE mor_colorder_t USING `graft.mor` " +
        s"OPTIONS (path '$path', keys 'id', partition 'kind')")
      def columns(): (Seq[String], Seq[String]) = (
        spark.sql("SELECT * FROM mor_colorder_t").columns.toSeq,
        spark.sql("DESCRIBE mor_colorder_t").collect().map(_.getString(0))
          .takeWhile(c => c.nonEmpty && !c.startsWith("#")).toSeq)
      val base = Seq("id", "kind", "note", "qty")
      assert(columns() == (base, base))
      Seq(("x4", 4L, "b", 40), ("y2", 2L, "b", 21)).toDF("note", "id", "kind", "qty")
        .createOrReplaceTempView("colorder_src")
      spark.sql("""MERGE INTO mor_colorder_t AS t USING colorder_src AS s ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET note = s.note, qty = s.qty
                  |WHEN NOT MATCHED THEN INSERT (id, kind, note, qty)
                  |  VALUES (s.id, s.kind, s.note, s.qty)""".stripMargin).collect()
      spark.sql("DELETE FROM mor_colorder_t WHERE id = 3").collect()
      assert(columns() == (base, base))
      spark.sql("ALTER TABLE mor_colorder_t ADD COLUMNS (score DOUBLE)")
      spark.sql("INSERT INTO mor_colorder_t VALUES (5, 'a', 'x5', 50, 0.5)")
      val wide = base :+ "score"
      assert(columns() == (wide, wide))
      spark.sql("OPTIMIZE mor_colorder_t")
      assert(columns() == (wide, wide))
      val rows = spark.sql("SELECT * FROM mor_colorder_t ORDER BY id").collect()
        .map(_.toSeq.map(v => Option(v).map(_.toString).orNull)).toSeq
      assert(rows == Seq(Seq("1", "a", "x1", "10", null), Seq("2", "b", "y2", "21", null),
        Seq("4", "b", "x4", "40", null), Seq("5", "a", "x5", "50", "0.5")), rows)
    } finally spark.sql("DROP TABLE IF EXISTS mor_colorder_t")
  }

  test("ANSI ALTER TABLE DROP PARTITION routes onto dropPartitions") {
    val path = TestSpark.tmpDir("dsv1-droppart")
    spark.sql("DROP TABLE IF EXISTS mor_dp_t")
    try {
      val t = new graft.lake.PartitionedMorTable(spark, path, Seq("uuid"), "kind",
        compactionDeltaCommits = 1000, autoCompact = false)
      t.upsert(Seq(("id1", "a", 1), ("id2", "b", 2), ("id3", "c", 3))
        .toDF("uuid", "kind", "v"), Nil, batchId = 1L)
      spark.sql(s"CREATE TABLE mor_dp_t USING `graft.mor` " +
        s"OPTIONS (path '$path', keys 'uuid', partition 'kind')")
      spark.sql("ALTER TABLE mor_dp_t DROP PARTITION (kind='a')")
      assert(t.partitions() == Seq("b", "c"))
      assert(spark.sql("SELECT count(*) FROM mor_dp_t").head().getLong(0) == 2)
      // missing partition: refused without IF EXISTS, no-op with it
      val e1 = intercept[Exception](
        spark.sql("ALTER TABLE mor_dp_t DROP PARTITION (kind='zzz')"))
      assert(e1.getMessage.contains("not found"), e1.getMessage)
      spark.sql("ALTER TABLE mor_dp_t DROP IF EXISTS PARTITION (kind='zzz'), PARTITION (kind='c')")
      assert(t.partitions() == Seq("b"))
      // spec must name the table's one partition column
      val e2 = intercept[Exception](
        spark.sql("ALTER TABLE mor_dp_t DROP PARTITION (uuid='id2')"))
      assert(e2.getMessage.contains("partition column"), e2.getMessage)
      // a provably mid-publish writer blocks the drop (fresh parent marker)
      val f = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(path, "_timeline/99.delta.inflight")
      val out = f.create(marker, false); out.close()
      val e3 = intercept[Exception](
        spark.sql("ALTER TABLE mor_dp_t DROP PARTITION (kind='b')"))
      assert(e3.getMessage.contains("mid-publish"), e3.getMessage)
      assert(t.partitions() == Seq("b"), "refused drop must delete nothing")
      f.delete(marker, false)
      spark.sql("ALTER TABLE mor_dp_t DROP PARTITION (kind='b')")
      assert(t.partitions().isEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS mor_dp_t")
  }

  test("ANSI SHOW PARTITIONS lists the live partition set; spec filters; glob-hostile values survive") {
    // partition values with glob/escape-hostile characters prove the raw
    // rendering contract (SHOW PARTITIONS speaks the partitions()/stats
    // encoding, never the Hive-escaped staged-dir form)
    val path = TestSpark.tmpDir("dsv1-showpart")
    spark.sql("DROP TABLE IF EXISTS mor_sp_t")
    try {
      val t = new graft.lake.PartitionedMorTable(spark, path, Seq("uuid"), "kind",
        compactionDeltaCommits = 1000, autoCompact = false)
      t.upsert(Seq(("id1", "a", 1), ("id2", "s*r", 2), ("id3", "pl[ain", 3))
        .toDF("uuid", "kind", "v"), Nil, batchId = 1L)
      spark.sql(s"CREATE TABLE mor_sp_t USING `graft.mor` " +
        s"OPTIONS (path '$path', keys 'uuid', partition 'kind')")
      assert(spark.sql("SHOW PARTITIONS mor_sp_t").collect().map(_.getString(0)).toSeq
        == Seq("kind=a", "kind=pl[ain", "kind=s*r"))
      assert(spark.sql("SHOW PARTITIONS mor_sp_t PARTITION (kind='s*r')")
        .collect().map(_.getString(0)).toSeq == Seq("kind=s*r"))
      assert(spark.sql("SHOW PARTITIONS mor_sp_t PARTITION (kind='zzz')").count() == 0)
      // a dropped partition leaves the listing immediately
      spark.sql("ALTER TABLE mor_sp_t DROP PARTITION (kind='a')")
      assert(spark.sql("SHOW PARTITIONS mor_sp_t").collect().map(_.getString(0)).toSeq
        == Seq("kind=pl[ain", "kind=s*r"))
      // spec must name the table's one partition column
      val e = intercept[Exception](
        spark.sql("SHOW PARTITIONS mor_sp_t PARTITION (uuid='id1')"))
      assert(e.getMessage.contains("partition column"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS mor_sp_t")
  }

  test("SHOW PARTITIONS on an unpartitioned graft.mor table is refused loudly") {
    val path = TestSpark.tmpDir("dsv1-showpart-unp")
    spark.sql("DROP TABLE IF EXISTS mor_spu_t")
    try {
      Seq(("id1", 1)).toDF("uuid", "v")
        .write.format("graft.mor").option("keys", "uuid").save(path)
      spark.sql(s"CREATE TABLE mor_spu_t USING `graft.mor` " +
        s"OPTIONS (path '$path', keys 'uuid')")
      val e = intercept[Exception](
        spark.sql("SHOW PARTITIONS mor_spu_t"))
      assert(e.getMessage.contains("not partitioned"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS mor_spu_t")
  }

  test("ANSI DROP PARTITION on an unpartitioned graft.mor table is refused loudly") {
    val path = TestSpark.tmpDir("dsv1-droppart-unp")
    spark.sql("DROP TABLE IF EXISTS mor_dpu_t")
    try {
      Seq(("id1", 1)).toDF("uuid", "v")
        .write.format("graft.mor").option("keys", "uuid").save(path)
      spark.sql(s"CREATE TABLE mor_dpu_t USING `graft.mor` " +
        s"OPTIONS (path '$path', keys 'uuid')")
      val e = intercept[Exception](
        spark.sql("ALTER TABLE mor_dpu_t DROP PARTITION (uuid='id1')"))
      assert(e.getMessage.contains("not partitioned"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS mor_dpu_t")
  }

  test("partitioned time travel: asOf/asOfTimestamp options and SQL VERSION/TIMESTAMP AS OF") {
    val path = TestSpark.tmpDir("dsv1-ptt")
    spark.sql("DROP TABLE IF EXISTS mor_ptt_t")
    try {
      val t = new graft.lake.PartitionedMorTable(spark, path, Seq("k"), "p",
        compactionDeltaCommits = 1000, autoCompact = false)
      t.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"), Nil, batchId = 1L)
      val tok1 = t.parentTimeline().last.seq
      Thread.sleep(30)
      t.upsert(Seq((1L, "a", 11), (3L, "c", 30)).toDF("k", "p", "v"), Nil, batchId = 2L)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "p", "v").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val pinned = Set((1L, "a", 10L.toInt), (2L, "b", 20))
      // reader options: asOf token, then asOfTimestamp at commit 1's wall clock
      val viaAsOf = spark.read.format("graft.mor").option("keys", "k")
        .option("partition", "p").option("asOf", tok1.toString).load(path)
      assert(rows(viaAsOf) == pinned)
      val ts1 = new java.sql.Timestamp(
        t.parentTimeline().find(_.seq == tok1).get.commitMs).toString
      val viaTs = spark.read.format("graft.mor").option("keys", "k")
        .option("partition", "p").option("asOfTimestamp", ts1).load(path)
      assert(rows(viaTs) == pinned,
        "asOfTimestamp must resolve through the PARENT timeline")
      // SQL surface through the catalog
      spark.sql(s"CREATE TABLE mor_ptt_t USING `graft.mor` " +
        s"OPTIONS (path '$path', keys 'k', partition 'p')")
      assert(rows(spark.sql(s"SELECT * FROM mor_ptt_t VERSION AS OF $tok1")) == pinned)
      assert(rows(spark.sql(s"SELECT * FROM mor_ptt_t TIMESTAMP AS OF '$ts1'")) == pinned)
      // current state unaffected
      assert(rows(spark.sql("SELECT * FROM mor_ptt_t"))
        == Set((1L, "a", 11), (2L, "b", 20), (3L, "c", 30)))
    } finally spark.sql("DROP TABLE IF EXISTS mor_ptt_t")
  }

  test("key/partition-pinned SQL DELETE and UPDATE: point-read routing stays correct") {
    val path = TestSpark.tmpDir("dsv1-dml-pin")
    spark.sql("DROP TABLE IF EXISTS mor_pin_t")
    try {
      Seq(("id1", "a", 1), ("id2", "a", 2), ("id3", "b", 3), ("id4", "b", 4),
        ("id5", "c", 5)).toDF("uuid", "kind", "v")
        .write.format("graft.mor").option("keys", "uuid")
        .option("partition", "kind").mode("append").save(path)
      spark.sql(s"CREATE TABLE mor_pin_t USING `graft.mor` " +
        s"OPTIONS (path '$path', keys 'uuid', partition 'kind')")
      // key equality + an extra conjunct that fails → nothing deleted
      spark.sql("DELETE FROM mor_pin_t WHERE uuid = 'id1' AND v > 100")
      assert(spark.sql("SELECT * FROM mor_pin_t").count() == 5)
      // key equality → exactly that row (point-read route)
      spark.sql("DELETE FROM mor_pin_t WHERE uuid = 'id1'")
      // IN list of keys, extra conjunct narrows
      spark.sql("DELETE FROM mor_pin_t WHERE uuid IN ('id2', 'id3') AND v = 3")
      // partition equality prunes to one child; key not pinned
      spark.sql("UPDATE mor_pin_t SET v = v + 10 WHERE kind = 'b'")
      // key + partition both pinned
      spark.sql("UPDATE mor_pin_t SET v = 500 WHERE uuid = 'id5' AND kind = 'c'")
      // a WHERE naming a nonexistent partition is a clean no-op, not an error
      spark.sql("DELETE FROM mor_pin_t WHERE kind = 'zz'")
      // contradictory pins (id2 is in partition a) are a clean no-op
      spark.sql("DELETE FROM mor_pin_t WHERE uuid = 'id2' AND kind = 'b'")
      val got = spark.sql("SELECT uuid, kind, v FROM mor_pin_t ORDER BY uuid")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
      assert(got == Seq(("id2", "a", 2), ("id4", "b", 14), ("id5", "c", 500)), got)
    } finally spark.sql("DROP TABLE IF EXISTS mor_pin_t")
  }

  test("DML through the record index: MERGE/DELETE/UPDATE key-pruned reads pin " +
      "exact base files when a fresh index exists") {
    val path = TestSpark.tmpDir("dsv1-dml-rli")
    spark.sql("DROP TABLE IF EXISTS mor_rli_dml")
    try {
      (0 until 400).map(i => (f"id$i%03d", i))
        .toDF("uuid", "v")
        .write.format("graft.mor").option("keys", "uuid")
        .option("write.tasks", "8").mode("append").save(path)
      spark.sql(s"CREATE TABLE mor_rli_dml USING `graft.mor` " +
        s"OPTIONS (path '$path', keys 'uuid')")
      spark.sql("OPTIMIZE mor_rli_dml")
      spark.sql("CREATE INDEX record_index ON mor_rli_dml")
      val t = graft.lake.MorTable.resolve(spark, path, Seq("uuid"))
      assert(t.hasRecordIndex())
      // the shared point-read path pins exactly ONE base file for one key
      // (this is the read the key-pinned DELETE/UPDATE and the MERGE
      // target resolution now dispatch through)
      assert(t.readForKeysIndexed(Seq("id123")).inputFiles
        .count(_.contains("/base/")) == 1,
        "the DML point path must pin through the record index")
      // key-pinned DELETE / UPDATE stay correct over the indexed read
      spark.sql("DELETE FROM mor_rli_dml WHERE uuid = 'id123'")
      spark.sql("UPDATE mor_rli_dml SET v = 9999 WHERE uuid = 'id200'")
      assert(spark.sql("SELECT count(*) AS n FROM mor_rli_dml").head().getLong(0) == 399)
      assert(spark.sql("SELECT v FROM mor_rli_dml WHERE uuid = 'id200'")
        .head().getInt(0) == 9999)
      // MERGE resolves its target through the same indexed point read
      spark.sql("""MERGE INTO mor_rli_dml t USING (
        |  SELECT 'id050' AS uuid, -1 AS v UNION ALL
        |  SELECT 'id123' AS uuid, -2 AS v
        |) s ON t.uuid = s.uuid
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (uuid, v) VALUES (s.uuid, s.v)""".stripMargin)
      val got = spark.sql(
        "SELECT uuid, v FROM mor_rli_dml WHERE uuid IN ('id050', 'id123')")
        .collect().map(r => (r.getString(0), r.getInt(1))).toMap
      assert(got == Map("id050" -> -1, "id123" -> -2),
        "matched row updates; the deleted key re-inserts")
    } finally spark.sql("DROP TABLE IF EXISTS mor_rli_dml")
  }

  test("SQL UPDATE: interdependent SET assignments see the ORIGINAL row (swap)") {
    val path = TestSpark.tmpDir("dsv1-upd-swap")
    spark.sql("DROP TABLE IF EXISTS mor_swap_t")
    try {
      spark.sql(
        s"""CREATE TABLE mor_swap_t USING `graft.mor` OPTIONS (path '$path', keys 'uuid')
           |AS SELECT * FROM VALUES ('id1', 1, 2) AS t(uuid, a, b)""".stripMargin)
      // SQL semantics: every SET expression evaluates against the
      // pre-update row — a sequential withColumn fold would yield (2, 2)
      spark.sql("UPDATE mor_swap_t SET a = b, b = a WHERE uuid = 'id1'")
      val r = spark.sql("SELECT a, b FROM mor_swap_t").head()
      assert((r.getInt(0), r.getInt(1)) == (2, 1), "SET a = b, b = a must swap")
      // duplicate assignment to one column fails loudly, never last-wins
      val e = intercept[Exception](
        spark.sql("UPDATE mor_swap_t SET a = 1, a = 2 WHERE uuid = 'id1'").collect())
      assert(e.getMessage.toLowerCase.contains("duplicate")
        || e.getMessage.toLowerCase.contains("multiple"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS mor_swap_t")
  }

  test("MERGE INSERT leaving a record-key column null fails loudly") {
    val path = TestSpark.tmpDir("dsv1-nullkey")
    spark.sql("DROP TABLE IF EXISTS mor_nullkey_t")
    try {
      spark.sql(
        s"""CREATE TABLE mor_nullkey_t USING `graft.mor` OPTIONS (path '$path', keys 'uuid')
           |AS SELECT * FROM VALUES ('id1', 100) AS t(uuid, v)""".stripMargin)
      // concat_ws silently SKIPS nulls — without the guard this would
      // insert a row under a collapsed/empty record key
      val e = intercept[Exception](spark.sql(
        """MERGE INTO mor_nullkey_t AS t
          |USING (SELECT * FROM VALUES (CAST(NULL AS STRING), 5) AS s(uuid, v)) AS s
          |ON t.uuid = s.uuid
          |WHEN NOT MATCHED THEN INSERT (uuid, v) VALUES (s.uuid, s.v)""".stripMargin)
        .collect())
      assert(e.getMessage.contains("non-null"), e.getMessage)
      assert(spark.sql("SELECT * FROM mor_nullkey_t").count() == 1)
    } finally spark.sql("DROP TABLE IF EXISTS mor_nullkey_t")
  }

  test("DML against a CDC (changelogFrom) relation is refused") {
    val path = TestSpark.tmpDir("dsv1-cdcdml")
    spark.sql("DROP TABLE IF EXISTS mor_cdcdml_t")
    try {
      val t = graft.lake.MorTable(spark, path, Seq("uuid"),
        compactionDeltaCommits = 1000)
      t.upsert(Seq(("id1", 1)).toDF("uuid", "v"), Nil, batchId = 1L)
      t.upsert(Seq(("id2", 2)).toDF("uuid", "v"), Nil, batchId = 2L)
      spark.sql(s"CREATE TABLE mor_cdcdml_t USING `graft.mor` " +
        s"OPTIONS (path '$path', keys 'uuid', changelogFrom '1')")
      // the CDC view is a derived read — mutating "through" it must fail
      // like asOf/sinceSeq do, not silently hit the live table
      val e = intercept[Exception](
        spark.sql("DELETE FROM mor_cdcdml_t WHERE uuid = 'id2'").collect())
      assert(e.getMessage.contains("CDC") || e.getMessage.contains("changelog"),
        e.getMessage)
      assert(t.read().count() == 2, "the live table must be untouched")
    } finally spark.sql("DROP TABLE IF EXISTS mor_cdcdml_t")
  }

  test("asOfTimestamp parses in the SESSION timezone, agreeing with TIMESTAMP AS OF") {
    val path = TestSpark.tmpDir("dsv1-tstz")
    val t = graft.lake.MorTable(spark, path, Seq("uuid"),
      compactionDeltaCommits = 1000)
    t.upsert(Seq(("id1", 1)).toDF("uuid", "v"), Nil, batchId = 1L)
    Thread.sleep(30)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(30)
    t.upsert(Seq(("id2", 2)).toDF("uuid", "v"), Nil, batchId = 2L)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.sql("DROP TABLE IF EXISTS mor_tz_t")
    try {
      // session zone far from the JVM default (UTC here): a
      // JVM-default-zone parse of the Sydney-rendered string would land
      // ~10h in the future and resolve to commit 2 instead of commit 1
      spark.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
      val s = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneId.of("Australia/Sydney"))
        .format(java.time.Instant.ofEpochMilli(betweenMs))
      val viaOption = spark.read.format("graft.mor").option("keys", "uuid")
        .option("asOfTimestamp", s).load(path)
      assert(viaOption.collect().map(_.getString(0)).toSeq == Seq("id1"),
        s"reader option must parse '$s' in the session zone")
      spark.sql(s"CREATE TABLE mor_tz_t USING `graft.mor` OPTIONS (path '$path', keys 'uuid')")
      val viaSql = spark.sql(s"SELECT * FROM mor_tz_t TIMESTAMP AS OF '$s'")
      assert(viaSql.collect().map(_.getString(0)).toSeq == Seq("id1"),
        "the SQL surface must resolve the same string to the same commit")
    } finally {
      spark.sql("DROP TABLE IF EXISTS mor_tz_t")
      spark.conf.set("spark.sql.session.timeZone", prevTz)
    }
  }
}
