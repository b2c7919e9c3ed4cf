package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scratch diagnostic: synthesize a LARGER deterministic dataset from an
  * existing testdata dir by replicating each table N times with key-column
  * offsets (so keyed entries don't collapse or blow up on duplicate keys).
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> <factor>
  *
  * This exists ONLY to measure 8-vs-32-core scaling of the scan-heavy gate
  * entries at a scale where compute dominates the fixed driver overhead
  * (SCALING.md) — the driver's bench and the oracle never read its output,
  * and nothing derived from it is ever cached or served. Values are
  * preserved, but not the source's physical schema: the Spark read→write
  * round trip rewrites `ts` in Spark's own timestamp encoding (a nanos
  * vintage does not survive it) and the key offset widens integer key
  * columns to bigint.
  */
object ScaleUp {
  private val Shift = 100000000L // well above any real key in the testdata

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <dstDir> <factor>")
    val (src, dst, n) = (args(0), args(1), args(2).toInt)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", TempDirs.sparkLocalDir())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def shifted(df: DataFrame, i: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * Shift)))

    val keyCols: Map[String, Seq[String]] = Map(
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "events" -> Seq("event_id", "user_id"))

    val tables = Seq("customer", "orders", "lineitem", "documents",
      "embeddings", "events", "nation", "part", "region", "supplier")
    tables.foreach { t =>
      val f = new java.io.File(s"$src/$t.parquet")
      if (f.exists) {
        val df = spark.read.parquet(f.getPath)
        val out = keyCols.get(t) match {
          case Some(ks) =>
            (0 until n).map(i => shifted(df, i, ks: _*)).reduce(_.unionByName(_))
          case None => df // dimension tables stay single-copy
        }
        out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
        println(s"[scaleup] $t x${keyCols.get(t).map(_ => n).getOrElse(1)}")
      }
    }
    spark.stop()
  }
}
