package graft.lake

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Model-based randomized test for the PARTITIONED lake form: any sequence
  * of changelog micro-batches applied via `applyChangelog` (the streaming
  * sink path — one staged write, mixed upserts+tombstones, per-child
  * adoption) equals the same script folded over a plain Map. Small
  * compaction thresholds make children compact mid-script, so reads cross
  * the delta-only / base-only / base+log shapes per partition. */
class PartitionedMorTablePropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private case class Op(delete: Boolean, key: String, v: Int)
  private def part(k: String): String = if (k < "c") "p1" else "p2"

  test("PartitionedMorTable == Map fold for random changelog scripts") {
    val keys = Vector("a", "b", "c", "d", "e")
    for (trial <- 0 until 4) {
      val rnd = new scala.util.Random(2000 + trial)
      val deltaCommits = Seq(2, 3, 100)(trial % 3)
      val script = List.fill(rnd.nextInt(4) + 2)(
        List.fill(rnd.nextInt(5) + 1)(
          Op(rnd.nextInt(4) == 0, keys(rnd.nextInt(keys.size)), rnd.nextInt(1000))))

      val t = new PartitionedMorTable(spark, TestSpark.tmpDir("pmor-prop"),
        keyCols = Seq("k"), partCol = "region",
        compactionDeltaCommits = deltaCommits)
      var model = Map.empty[String, Int]
      script.zipWithIndex.foreach { case (batch, bi) =>
        val lastPerKey = batch.zipWithIndex.groupBy(_._1.key)
          .map { case (_, ops) => ops.maxBy(_._2) }
        val upserts = lastPerKey.collect { case (op, i) if !op.delete => (op.key, op.v, i) }.toSeq
        val deletes = lastPerKey.collect { case (op, _) if op.delete => op.key }.toSeq
        val rows =
          upserts.map { case (k, v, i) => ("U", k, part(k), v, i.toLong) } ++
            deletes.map(k => ("D", k, part(k), model.getOrElse(k, 0), 999L))
        val env = rows.toDF("op", "k", "region", "v", "seq")
          .select(col("op"), col("k").as("key"),
            when(col("op") === "D",
              struct(col("k"), col("region"), col("v"))).as("before"),
            when(col("op") =!= "D",
              struct(col("k"), col("region"), col("v"))).as("after"),
            col("seq"))
        t.applyChangelog(env, batchId = bi.toLong)
        upserts.foreach { case (k, v, _) => model += (k -> v) }
        deletes.foreach(k => model -= k)
      }
      val got = t.read().collect()
        .map(r => r.getAs[String]("k") -> r.getAs[Int]("v")).toMap
      assert(got == model, s"trial=$trial deltaCommits=$deltaCommits script=$script")
      // pruned reads see exactly their partition's share of the model
      Seq("p1", "p2").foreach { p =>
        val want = model.keySet.filter(part(_) == p)
        if (want.nonEmpty) {
          val sub = t.read(Seq(p)).collect().map(_.getAs[String]("k")).toSet
          assert(sub == want, s"trial=$trial partition=$p")
        }
      }
      t.drop()
    }
  }

  test("partitioned upsertIfNew in random scripts == Map fold; per-child flags never lie") {
    val keys = Vector("a", "b", "c", "d", "e", "f")
    for (trial <- 0 until 4) {
      val rnd = new scala.util.Random(5000 + trial)
      val t = new PartitionedMorTable(spark, TestSpark.tmpDir("pmor-ifnew-prop"),
        keyCols = Seq("k"), partCol = "region",
        compactionDeltaCommits = 1000, autoCompact = false)
      var model = Map.empty[String, Int]
      var bi = 0L
      for (step <- 0 until rnd.nextInt(4) + 4) {
        rnd.nextInt(4) match {
          case 0 => // plain upsert, key-collapsed
            bi += 1
            val rows = List.fill(rnd.nextInt(3) + 1)(
              (keys(rnd.nextInt(keys.size)), rnd.nextInt(1000)))
            val lastPer = rows.groupBy(_._1).map(_._2.last).toSeq
            t.upsert(lastPer.map { case (k, v) => (k, part(k), v) }
              .toDF("k", "region", "v"), Nil, batchId = bi)
            lastPer.foreach { case (k, v) => model += (k -> v) }
          case 1 | 2 => // tagged upsert: fresh or overlapping keys
            bi += 1
            val ks =
              if (rnd.nextBoolean()) List.fill(rnd.nextInt(2) + 1)(
                s"${Seq("a", "z")(rnd.nextInt(2))}-n$trial-$step-${rnd.nextInt(9)}")
                .distinct
              else rnd.shuffle(keys).take(rnd.nextInt(3) + 1).toList
            val rows = ks.map(k => (k, part(k), rnd.nextInt(1000)))
            val verdicts = t.upsertIfNew(rows.toDF("k", "region", "v"),
              Seq(col("v")), batchId = bi)
            verdicts.collect { case (p, true) => p }.foreach { p =>
              val claimed = ks.filter(part(_) == p)
              assert(claimed.forall(k => !model.contains(k)),
                s"trial=$trial step=$step child $p flag lied")
            }
            rows.foreach { case (k, _, v) => model += (k -> v) }
          case 3 if t.partitions().nonEmpty =>
            if (rnd.nextBoolean()) t.compactPartitions(t.partitions())
            else { t.clean(); () }
          case _ => ()
        }
      }
      val got = t.read().collect().map(r => r.getAs[String]("k") -> r.getAs[Int]("v"))
      assert(got.length == model.size && got.toMap == model,
        s"trial=$trial got=${got.toSeq.sorted} model=${model.toSeq.sorted}")
      t.drop()
    }
  }
}
