package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.GraftCatalog
import graft.lake.MorTable
import graft.sources.DebeziumSource
import graft.streaming.{ContinuousPipeline, IncrementalJoinPipeline}

/** A read operation: its name, and the check that runs the statement and
  * compares its answer with the model (true = correct). */
final case class Read(name: String, run: () => Boolean)

/** One workload: a lake it sets up, the write it repeats, the reads that
  * follow every write, and the model its final state is checked against. */
trait Workload {
  /** Change rows one write commits. */
  def rowsPerWrite: Int
  /** Nominal seconds of one round (a write and its reads) on a quiet
    * 4-core host; sizes the timed phase. */
  def roundSeconds: Double
  /** Writes in one compaction cycle: the timed phase is whole cycles. */
  def cycle: Int
  /** Untimed rounds before the timed phase. */
  def warmups: Int
  /** Build the lake and everything up to the first write under `dir`. */
  def setup(dir: String): Unit
  /** One write; returns its latency in ms once the write is visible. */
  def write(op: Op): Double
  /** The reads that follow each write, in order. */
  def reads(): Seq[Read]
  /** Differences between the lake's final state and the model. */
  def finalCheck(): Seq[String]
  /** Bytes on disk under the workload's lake directories, and live rows. */
  def footprint(): (Long, Long)
  /** Per lake table: (delta commits, compactions, count-trigger prediction). */
  def compactions(): Map[String, (Int, Int, Int)]
  /** Change one row of the lake behind the model's back (self-test only). */
  def corrupt(): Unit
  def close(): Unit
}

object Workload {
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** Delta commits, compactions and the count-trigger prediction for one
    * table: with only the count trigger firing, each compaction folds
    * exactly `every` deltas. */
  def tableCounts(t: MorTable): (Int, Int, Int) = {
    val tl = t.timeline()
    val deltas = tl.count(_.kind == "delta")
    (deltas, tl.count(_.kind == "compact"), deltas / t.compactionDeltaCommits)
  }

  def decimal(cents: Long): java.math.BigDecimal = java.math.BigDecimal.valueOf(cents, 2)

  /** Rows where the lake and the model disagree, the first 20 named. */
  def diff[K: Ordering, V](table: String, got: Map[K, V], want: Map[K, V]): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.sorted.filter(k => got.get(k) != want.get(k)).take(20)
      .map(k => s"$table[$k]: got ${got.get(k)}, want ${want.get(k)}")
}

/** `ticket_transfers`: the reference's continuous `INSERT INTO ticket_view`
  * — Debezium JSON segments through `ContinuousPipeline.startFromDebezium`
  * into an `IncrementalJoinPipeline`, one segment per micro-batch, the
  * trigger running back to back. Every segment carries ticket updates, so
  * every batch takes the full-recompute path. The generator publishes the
  * next segment only after the previous one's batch has committed (closed
  * loop, one client). */
final class PipelineWorkload(spark: SparkSession, probe: Probe, data: TestData,
                             seed: Long) extends Workload {
  private val Activities = 500
  private val merged = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DecimalType(12, 2)),
    StructField("h_id", LongType), StructField("h_orderkey", LongType),
    StructField("h_buyer", LongType), StructField("h_ts", LongType)))
  private val personT = DebeziumSource.Table("person", Seq("c_custkey", "c_name"), Seq("c_custkey"))
  private val ticketT = DebeziumSource.Table("ticket",
    Seq("o_orderkey", "o_custkey", "o_totalprice"), Seq("o_orderkey"))
  private val histT = DebeziumSource.Table("hist", Seq("h_id", "h_orderkey", "h_buyer", "h_ts"), Seq("h_id"))

  private var dir: String = _
  private var feed: TicketFeed = _
  private var pipe: IncrementalJoinPipeline = _
  private var query: StreamingQuery = _
  private var segments = 0

  val rowsPerWrite: Int = 2 * Activities
  val roundSeconds = 10.5
  /** The state tables compact every 4 deltas, the sink every 5: the first
    * four batches (deltas 2 to 5; initialization is delta 1) hold one
    * compaction of each state table and the sink's first. */
  val cycle = 4
  /** None: the first batch is no slower than the batch-to-batch spread
    * (11-13 s against 8-13 s for the next three on a 4-core host), and a
    * warm-up batch would cost as much as a timed one. */
  val warmups = 0

  private def frame(fields: Seq[String], rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(fields.map(f => merged(f))))

  def setup(d: String): Unit = {
    dir = d
    feed = new TicketFeed(data, seed)
    segments = 0
    val persons = frame(personT.cols,
      (0 until data.persons).map(i => Row(i + 1L, data.name(i))))
    val tickets = frame(ticketT.cols, (0 until data.tickets).map(t =>
      Row(t + 1L, data.holder(t) + 1L, Workload.decimal(data.priceCents(t)))))
    pipe = new IncrementalJoinPipeline(spark, s"$dir/lake",
      personKey = "c_custkey", ticketKey = "o_orderkey", ticketPersonFk = "o_custkey",
      histTicketFk = "h_orderkey", histKeyCols = Seq("h_id"), histOrder = Seq("h_id"),
      project = j => j.select(
        col("c_name").as("full_name"),
        col("o_orderkey").cast("string").as("ticket_id"),
        col("o_totalprice").as("ticket_price"),
        timestamp_seconds(col("h_ts")).cast("string").as("transaction_date_time"),
        col("h_id")),
      sinkKey = "full_name",
      writeTasks = 4)
    pipe.initialize(persons, tickets, frame(histT.cols, Nil))
    GraftCatalog.register(spark, "ticket_view", pipe.sink)
    Files.createDirectories(Paths.get(s"$dir/wal"))
    query = ContinuousPipeline.startFromDebezium(spark, pipe, s"$dir/wal", merged,
      personT, ticketT, histT, s"$dir/checkpoint", Trigger.ProcessingTime(0L))
  }

  def write(op: Op): Double = {
    val batchId = segments.toLong
    probe.bindBatch(batchId, op)
    val tmp = Paths.get(s"$dir/wal/.segment-$segments.tmp")
    Files.write(tmp, feed.segment(Activities).getBytes("UTF-8"))
    val published = Probe.nowMs()
    Files.move(tmp, Paths.get(f"$dir/wal/segment-$segments%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    segments += 1
    val deadline = System.nanoTime() + PipelineWorkload.TimeoutNs
    var done: Option[org.apache.spark.sql.streaming.StreamingQueryProgress] = None
    while (done.isEmpty) {
      query.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"batch $batchId timed out")
      done = query.recentProgress.find(p => p.batchId == batchId && p.numInputRows > 0)
      if (done.isEmpty) Thread.sleep(1)
    }
    val p = done.get
    op.progress = Some(p)
    val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")
    end - published
  }

  /** The reference's data-quality invariant (zpln:2757) over the catalog
    * table: no full_name may appear twice. */
  def reads(): Seq[Read] = Seq(Read("duplicate_names", () =>
    spark.sql("SELECT full_name, count(*) AS n FROM ticket_view GROUP BY full_name " +
      "HAVING count(*) > 1").collect().isEmpty))

  def finalCheck(): Seq[String] = {
    val got = spark.sql("SELECT full_name, ticket_id, ticket_price, transaction_date_time, " +
      "h_id FROM ticket_view").collect().map(r =>
      r.getString(0) -> ViewRow(r.getString(0), r.getString(1),
        r.getDecimal(2).unscaledValue.longValueExact, r.getString(3), r.getLong(4))).toMap
    Workload.diff("ticket_view", got, feed.expectedView())
  }

  def footprint(): (Long, Long) = {
    val view = feed.expectedView().size.toLong
    (Workload.dirBytes(s"$dir/lake"),
      data.persons.toLong + data.tickets + feed.histRows + view)
  }

  def compactions(): Map[String, (Int, Int, Int)] = Map(
    "person" -> Workload.tableCounts(pipe.pState),
    "ticket" -> Workload.tableCounts(pipe.tState),
    "hist" -> Workload.tableCounts(pipe.hState),
    "sink" -> Workload.tableCounts(pipe.sink))

  def corrupt(): Unit = {
    val victim = feed.expectedView().keys.min
    pipe.sink.updateWhere(col("full_name") === victim,
      Map("ticket_price" -> (col("ticket_price") + 1)))
    ()
  }

  def close(): Unit = if (query != null) { query.stop(); query = null }
}

object PipelineWorkload {
  val TimeoutNs: Long = 120L * 1000 * 1000 * 1000
}

/** `lake_sql`: a partitioned merge-on-read table through the SQL surface.
  * Each write is one `MERGE INTO` of 400 updates, 50 deletes and 50
  * inserts; each write is followed by four snapshot queries. */
final class LakeSqlWorkload(spark: SparkSession, data: TestData, seed: Long) extends Workload {
  private var dir: String = _
  private var feed: OrdersFeed = _
  private val table = "lake_orders"
  private val schema = StructType(Seq(StructField("op", StringType),
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DecimalType(12, 2)),
    StructField("o_orderday", IntegerType), StructField("o_orderpriority", StringType)))

  val rowsPerWrite: Int = 500
  val roundSeconds = 5.5
  val cycle: Int = LakeSqlWorkload.CompactEvery
  /** One: the first MERGE and queries pay for code generation. */
  val warmups = 1

  /** Orders rows with their change op (null for the initial load). */
  private def frame(rows: Seq[OrderChange]): DataFrame =
    spark.createDataFrame(rows.map { case OrderChange(op, r) => Row(op, r.key, r.custkey,
      r.status, Workload.decimal(r.cents), r.day, TestData.Priorities(r.priority))
    }.asJava, schema)
      .withColumn("o_orderdate", expr("date_from_unix_date(o_orderday)")).drop("o_orderday")

  def setup(d: String): Unit = {
    dir = d
    feed = new OrdersFeed(data, seed)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    frame(feed.live.values.toSeq.sortBy(_.key).map(OrderChange(null, _))).drop("op")
      .write.format("graft.mor")
      .option("keys", "o_orderkey").option("partition", "o_orderpriority")
      .option("write.tasks", "4")
      .option("compaction.delta_commits", LakeSqlWorkload.CompactEvery.toString)
      .option("compaction.delta_seconds", "86400")
      .mode("append").save(s"$dir/lake")
    spark.sql(s"CREATE TABLE $table USING `graft.mor` OPTIONS " +
      s"(path '$dir/lake', keys 'o_orderkey', partition 'o_orderpriority')")
  }

  def write(op: Op): Double = {
    val changes = feed.nextMerge(400, 50, 50)
    val t0 = System.nanoTime()
    frame(changes).createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $table AS t USING merge_src AS s ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET o_orderstatus = s.o_orderstatus, o_totalprice = s.o_totalprice
         |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT
         |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)
         |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice, s.o_orderdate,
         |          s.o_orderpriority)""".stripMargin).collect()
    (System.nanoTime() - t0) / 1e6
  }

  def reads(): Seq[Read] = {
    val keys = feed.lookupKeys()
    val (from, until) = feed.month()
    Seq(
      Read("priority_agg", () => {
        val got = spark.sql(s"SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s " +
          s"FROM $table GROUP BY o_orderpriority").collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).unscaledValue.longValueExact)).toMap
        got == feed.expectedByPriority()
      }),
      Read("point_lookup", () => {
        val got = spark.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM $table " +
          s"WHERE o_orderkey IN (${keys.mkString(", ")})").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getDecimal(3).unscaledValue.longValueExact)).toSet
        got == feed.expectedLookup(keys)
      }),
      Read("month_count", () => {
        val got = spark.sql(s"SELECT count(*) FROM $table WHERE o_orderdate >= DATE '${TestData.day(from)}' " +
          s"AND o_orderdate < DATE '${TestData.day(until)}'").collect().head.getLong(0)
        got == feed.expectedRange(from, until)
      }),
      Read("duplicate_keys", () =>
        spark.sql(s"SELECT o_orderkey, count(*) FROM $table GROUP BY o_orderkey " +
          "HAVING count(*) > 1").collect().isEmpty))
  }

  def finalCheck(): Seq[String] = {
    val got = spark.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
      s"unix_date(o_orderdate), o_orderpriority FROM $table").collect()
      .map(r => r.getLong(0) -> OrderRow(r.getLong(0), r.getLong(1), r.getString(2),
        r.getDecimal(3).unscaledValue.longValueExact, r.getInt(4),
        TestData.Priorities.indexOf(r.getString(5)))).toMap
    Workload.diff(table, got, feed.live.toMap)
  }

  def footprint(): (Long, Long) = (Workload.dirBytes(s"$dir/lake"), feed.live.size.toLong)

  def compactions(): Map[String, (Int, Int, Int)] = {
    val t = graft.lake.PartitionedMorTable.resolve(spark, s"$dir/lake", Seq("o_orderkey"),
      "o_orderpriority")
    t.partitions().map(p => p -> Workload.tableCounts(t.child(p))).toMap
  }

  def corrupt(): Unit = {
    spark.sql(s"UPDATE $table SET o_totalprice = o_totalprice + 1 " +
      s"WHERE o_orderkey = ${feed.live.keys.min}").collect()
    ()
  }

  def close(): Unit = ()
}

object LakeSqlWorkload {
  val CompactEvery = 5
}
