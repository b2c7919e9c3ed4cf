package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.graft.GraftSqlShim

/** The code-generation defaults [[GraftExtensions]] installs: a compiled
  * class is shared by every plan that generates the same source, whatever
  * codegen stage id the pipeline got, and a value the user set wins.
  * Counts compilations (the code generator's cache misses), never time. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a graft session carries the codegen defaults; set-if-missing keeps set values") {
    GraftExtensions.sparkDefaults.foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) == v, k)
      assert(spark.conf.get(k) == v, k)
    }
    // the helper never overrides: shuffle.partitions is set by the session
    // builder, and the defaults are already on the context's conf
    GraftSqlShim.setConfDefaults(Seq("spark.sql.shuffle.partitions" -> "999",
      "spark.sql.codegen.cache.maxEntries" -> "7"))
    assert(spark.sparkContext.getConf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("a session built with explicit codegen settings keeps the user's values") {
    // a fresh JVM: both keys are read when the SparkContext and the code
    // generator are first built, so only a new process shows the outcome
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens")).toSeq
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++ Seq("-cp", System.getProperty("java.class.path"),
      "graft.CodegenConfProbe", TempDirs.sparkLocalDir(),
      "spark.sql.codegen.cache.maxEntries", "64",
      "spark.sql.codegen.useIdInClassName", "true")
    val proc = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.mkString("\n"))
    assert(out.contains("spark.sql.codegen.cache.maxEntries=64"), out.mkString("\n"))
    assert(out.contains("spark.sql.codegen.useIdInClassName=true"), out.mkString("\n"))
  }

  test("one whole-stage pipeline planned at two codegen stage ids compiles once") {
    val pipeline = spark.range(0, 1000, 1, 2)
      .selectExpr("id * 7919 + 104729 AS x").filter("x % 13 = 5")
    val first = spark.range(0, 10, 1, 1).selectExpr("id * 31 + 17 AS x").union(pipeline)
    def stages(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
        .sortBy(_.codegenStageId)
    // the premise: the same pipeline is stage 2 of the union, stage 1 alone
    val inUnion = stages(first)
    val alone = stages(pipeline)
    assert(inUnion.map(_.codegenStageId) == Seq(1, 2) && alone.map(_.codegenStageId) == Seq(1))
    assert(inUnion(1).child.sameResult(alone.head.child))
    first.queryExecution.toRdd.count()
    val c0 = GraftSqlShim.codegenCompilations()
    assert(pipeline.queryExecution.toRdd.count() == 77)
    assert(GraftSqlShim.codegenCompilations() - c0 == 0,
      "the pipeline was compiled again under its second stage id")
  }
}

/** Prints the codegen settings of a graft session built with the given
  * `key value` pairs (used by [[CodegenCacheSpec]] in a child JVM).
  * Arguments: `<spark.local.dir> [key value]...`. */
object CodegenConfProbe {
  def main(args: Array[String]): Unit = {
    val b = SparkSession.builder().master("local[1]").appName("codegen-conf-probe")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.head)
    args.tail.grouped(2).foreach { case Array(k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    try GraftExtensions.sparkDefaults.foreach { case (k, _) =>
      println(s"$k=${s.conf.get(k)}")
      assert(s.sparkContext.getConf.get(k) == s.conf.get(k), k)
    } finally s.stop()
  }
}
