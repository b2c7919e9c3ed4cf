package graftbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Fixed testdata: TPC-H-shaped stand-ins for the reference's `person`
  * (customer) and `sporting_event_ticket` (orders) tables, drawn from a
  * constant seed so every run and every seed starts from the same lake. */
final class TestData(val persons: Int, val tickets: Int) {
  private val rnd = new SplittableRandom(TestData.Seed)
  /** Person i has key i + 1; ticket t has key t + 1. */
  val name: Array[String] = Array.tabulate(persons)(i => f"Customer#${i + 1}%09d")
  val holder: Array[Int] = Array.fill(tickets)(rnd.nextInt(persons))
  val priceCents: Array[Long] = Array.fill(tickets)(90000L + rnd.nextInt(50000000))
  val orderDay: Array[Int] = Array.fill(tickets)(TestData.FirstDay + rnd.nextInt(TestData.Days))
  val priority: Array[Int] = Array.fill(tickets)(rnd.nextInt(TestData.Priorities.size))
  val status: Array[String] = Array.fill(tickets)(TestData.Statuses(rnd.nextInt(3)))
}

object TestData {
  val Seed = 20180610L
  /** 1992-01-01 as days since the epoch, and the span of TPC-H order dates. */
  val FirstDay = 8035
  val Days = 2406
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Vector("F", "O", "P")

  def cents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"
  def day(d: Int): String = java.time.LocalDate.ofEpochDay(d.toLong).toString
}

/** One `ticket_view` row: the reference sink's columns plus the history id
  * that ranks "the last transaction". */
final case class ViewRow(fullName: String, ticketId: String, priceCents: Long,
                         txTime: String, hid: Long)

/** Debezium change feed for the ticket pipeline, and its correctness model.
  *
  * The feed is the reference's `generateticketactivity(500)`: each activity
  * moves a ticket to a new holder (`u` with full before-image on the ticket
  * table) and appends a purchase-history row (`c`). The model keeps the
  * tickets' holders and every history row in plain arrays, so the expected
  * view needs no Spark. */
final class TicketFeed(data: TestData, seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val holder = data.holder.clone()
  private val histTicket = mutable.ArrayBuffer.empty[Int]
  private val histTs = mutable.ArrayBuffer.empty[Long]
  private var lsn = 0L

  def histRows: Long = histTicket.size.toLong

  /** The next WAL segment of `n` activities, as JSON lines. */
  def segment(n: Int): String = {
    val sb = new StringBuilder
    for (_ <- 0 until n) {
      val t = rnd.nextInt(data.tickets)
      val key = t + 1L
      val price = TestData.cents(data.priceCents(t))
      val from = holder(t)
      var to = rnd.nextInt(data.persons)
      if (to == from) to = (to + 1) % data.persons
      holder(t) = to
      lsn += 1
      sb.append(s"""{"payload":{"op":"u","before":{"o_orderkey":$key,"o_custkey":${from + 1},"o_totalprice":$price},""")
        .append(s""""after":{"o_orderkey":$key,"o_custkey":${to + 1},"o_totalprice":$price},""")
        .append(s""""source":{"table":"ticket","lsn":$lsn,"ts_ms":$lsn}}}""").append('\n')
      lsn += 1
      val hid = histTicket.size + 1L
      val ts = TicketFeed.Epoch + lsn
      histTicket += t
      histTs += ts
      sb.append(s"""{"payload":{"op":"c","before":null,"after":{"h_id":$hid,"h_orderkey":$key,""")
        .append(s""""h_buyer":${to + 1},"h_ts":$ts},""")
        .append(s""""source":{"table":"hist","lsn":$lsn,"ts_ms":$lsn}}}""").append('\n')
    }
    sb.toString
  }

  /** Expected `ticket_view`: per holder's full_name, the newest history row
    * over the tickets each person holds now. */
  def expectedView(): Map[String, ViewRow] = {
    val best = mutable.HashMap.empty[Int, Int] // person -> history index
    for (i <- histTicket.indices) {
      val p = holder(histTicket(i))
      if (best.get(p).forall(_ < i)) best(p) = i
    }
    best.iterator.map { case (p, i) =>
      val t = histTicket(i)
      data.name(p) -> ViewRow(data.name(p), (t + 1).toString, data.priceCents(t),
        TicketFeed.txTime(histTs(i)), i + 1L)
    }.toMap
  }
}

object TicketFeed {
  /** History timestamps are whole seconds from 2023-11-14 22:13:20 UTC. */
  val Epoch = 1700000000L
  def txTime(ts: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(ts))
}

final case class OrderRow(key: Long, custkey: Long, status: String, cents: Long,
                          day: Int, priority: Int)

/** One MERGE source row: op is U, D or I. */
final case class OrderChange(op: String, row: OrderRow)

/** Change generator and correctness model for the `lake_sql` workload: the
  * live orders table in a hash map, so every query answer is computed
  * without Spark. */
final class OrdersFeed(data: TestData, seed: Long) {
  private val rnd = new SplittableRandom(seed)
  val live = mutable.LongMap.empty[OrderRow]
  private val keys = mutable.ArrayBuffer.empty[Long] // live keys, swap-remove
  private val slot = mutable.LongMap.empty[Int]
  private var maxKey = data.tickets.toLong
  for (t <- 0 until data.tickets) add(OrderRow(t + 1L, data.holder(t) + 1L,
    data.status(t), data.priceCents(t), data.orderDay(t), data.priority(t)))

  private def add(r: OrderRow): Unit = {
    live(r.key) = r; slot(r.key) = keys.size; keys += r.key
  }
  private def remove(k: Long): Unit = {
    val i = slot(k); val last = keys.last
    keys(i) = last; slot(last) = i; keys.remove(keys.size - 1)
    slot.remove(k); live.remove(k)
  }

  /** The next MERGE source: `updates` price/status changes, `deletes`
    * removals (distinct live keys) and `inserts` new keys. Applied to the
    * model immediately. */
  def nextMerge(updates: Int, deletes: Int, inserts: Int): Seq[OrderChange] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < updates + deletes) picked += keys(rnd.nextInt(keys.size))
    val (upd, del) = picked.toSeq.splitAt(updates)
    val out = mutable.ArrayBuffer.empty[OrderChange]
    upd.foreach { k =>
      val r = live(k).copy(status = TestData.Statuses(rnd.nextInt(3)),
        cents = 90000L + rnd.nextInt(50000000))
      live(k) = r
      out += OrderChange("U", r)
    }
    del.foreach { k => out += OrderChange("D", live(k)); remove(k) }
    for (_ <- 0 until inserts) {
      maxKey += 1
      val r = OrderRow(maxKey, rnd.nextInt(data.persons) + 1L,
        TestData.Statuses(rnd.nextInt(3)), 90000L + rnd.nextInt(50000000),
        TestData.FirstDay + rnd.nextInt(TestData.Days),
        rnd.nextInt(TestData.Priorities.size))
      add(r)
      out += OrderChange("I", r)
    }
    out.toSeq
  }

  /** Ten point-lookup keys over everything ever allocated: live, deleted
    * and never-existing-beyond-max keys all occur. */
  def lookupKeys(): Seq[Long] = Seq.fill(10)(1L + rnd.nextInt((maxKey + 20).toInt)).distinct

  /** A random month inside the order-date span: [first day, next first day). */
  def month(): (Int, Int) = {
    val d = java.time.LocalDate.ofEpochDay((TestData.FirstDay + rnd.nextInt(TestData.Days)).toLong)
    val m = d.withDayOfMonth(1)
    (m.toEpochDay.toInt, m.plusMonths(1).toEpochDay.toInt)
  }

  def expectedByPriority(): Map[String, (Long, Long)] =
    live.values.groupBy(r => TestData.Priorities(r.priority))
      .map { case (p, rs) => p -> (rs.size.toLong, rs.iterator.map(_.cents).sum) }

  def expectedLookup(ks: Seq[Long]): Set[(Long, Long, String, Long)] =
    ks.flatMap(live.get).map(r => (r.key, r.custkey, r.status, r.cents)).toSet

  def expectedRange(from: Int, until: Int): Long =
    live.values.count(r => r.day >= from && r.day < until).toLong
}
