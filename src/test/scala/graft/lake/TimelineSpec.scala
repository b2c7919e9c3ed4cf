package graft.lake

import java.io.{IOException, InterruptedIOException}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The rules [[Timeline]] writes once for both table forms: a throw
  * between claim and publish releases the claim unless its seq already
  * stamps visible rows or its instant may have landed, one lease rule
  * tells a live marker from an orphan, and every handle sees another
  * handle's archive and republished instants. */
class TimelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Claim markers and staged commit dirs anywhere under `path`. */
  private def leftovers(path: String): Set[String] =
    Files.walk(Paths.get(path)).iterator().asScala
      .map(p => Paths.get(path).relativize(p).toString)
      .filter(f => f.endsWith(".inflight") || f.contains(".staging/")).toSet

  private val forms: Seq[(String, String => LakeTable)] = Seq(
    "unpartitioned" -> (p => new MorTable(spark, p, Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false)),
    "partitioned" -> (p => new PartitionedMorTable(spark, p, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)))

  for ((name, open) <- forms)
    test(s"$name: a commit that throws after its claim leaves no marker or staged dir") {
      val path = TestSpark.tmpDir("tl-release")
      val t = open(path)
      t.upsert(Seq((1L, "a", 10)).toDF("k", "p", "v"), Nil, batchId = 1L)
      // a FAIL-mode expectation over a column the batch lacks throws after
      // the claim, before anything publishes
      t.withExpectations(Seq("w_positive" -> (col("w") > 0)), "fail")
      intercept[Exception](t.upsert(Seq((2L, "b", 20)).toDF("k", "p", "v"), Nil, batchId = 2L))
      assert(leftovers(path).isEmpty, leftovers(path))
      assert(t.commits().map(_.batchId) == Seq(1L))
      t.withExpectations(Nil, "fail")
      t.upsert(Seq((2L, "b", 20)).toDF("k", "p", "v"), Nil, batchId = 2L)
      assert(t.read().count() == 2)
    }

  test("an orphaned parent marker (past the lease) does not make compaction keep tombstones") {
    val path = TestSpark.tmpDir("tl-orphan")
    val t = new PartitionedMorTable(spark, path, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    t.upsert(Seq((1L, "a", 10), (2L, "a", 20), (3L, "a", 30)).toDF("k", "p", "v"),
      Nil, batchId = 1L)
    t.delete(Seq((1L, "a")).toDF("k", "p"), batchId = 2L)
    val f = fs(path)
    val marker = new Path(path, "_timeline/99.delta.inflight")
    f.create(marker, false).close()
    f.setTimes(marker, System.currentTimeMillis() - 600000L, -1)
    t.compactPartitions(Seq("a"))
    val c = t.child("a").timeline().filter(_.kind == "compact").last
    val tombstones = spark.read.parquet(s"${t.child("a").path}/base/${c.seq}")
      .filter(col("_deleted")).count()
    assert(tombstones == 0, s"$tombstones tombstone row(s) kept for an orphaned claim")
    assert(t.read().count() == 2)
  }

  test("a handle that loaded the archive sees another handle's clean") {
    val path = TestSpark.tmpDir("tl-archive")
    def handle() = new MorTable(spark, path, Seq("k"),
      compactionDeltaCommits = 1000, autoCompact = false)
    val a = handle()
    a.upsert(Seq((1L, 10)).toDF("k", "v"), Nil, batchId = 1L)
    a.upsert(Seq((2L, 20)).toDF("k", "v"), Nil, batchId = 2L)
    a.compact()
    assert(!a.isCommitted(3L)) // A has read the (empty) archive
    assert(handle().clean() == 2)
    assert(a.isCommitted(1L), "batch 1 was archived by another handle")
    a.upsert(Seq((1L, 99)).toDF("k", "v"), Nil, batchId = 1L) // a replay: no-op
    assert(a.timeline().map(_.kind) == Seq("compact"))
    assert(a.read().filter(col("k") === 1L).head().getInt(1) == 10)
  }

  test("a parent token rolled back and republished by another handle is read afresh") {
    val path = TestSpark.tmpDir("tl-republish")
    def handle() = new PartitionedMorTable(spark, path, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    val a = handle()
    a.upsert(Seq((1L, "a", 10)).toDF("k", "p", "v"), Nil, batchId = 1L)
    a.savepoint("pin")
    a.upsert(Seq((2L, "a", 20)).toDF("k", "p", "v"), Nil, batchId = 2L)
    val token = a.parentTimeline().last.seq
    assert(a.isCommitted(2L))
    val b = handle()
    b.restore("pin")
    b.upsert(Seq((3L, "a", 30)).toDF("k", "p", "v"), Nil, batchId = 42L)
    assert(b.parentTimeline().last.seq == token, "the rolled-back token is claimed again")
    assert(a.parentTimeline().last.batchId == 42L)
    assert(a.isCommitted(42L) && !a.isCommitted(2L))
  }

  test("a partitioned commit that fails after a child adopted keeps its token taken") {
    val path = TestSpark.tmpDir("tl-hold")
    val t = new PartitionedMorTable(spark, path, Seq("k"), "p",
      compactionDeltaCommits = 1000, autoCompact = false)
    t.upsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "p", "v"), Nil, batchId = 1L)
    val token = t.parentTimeline().last.seq + 1
    // child b cannot claim while its timeline dir is a plain file; child a
    // adopts its rows stamped `token` (unless cancelled first)
    val tlB = Paths.get(path, "p=b", "timeline")
    val aside = Paths.get(path, "p=b", "timeline.aside")
    Files.move(tlB, aside)
    Files.createFile(tlB)
    intercept[Exception](t.upsert(Seq((1L, "a", 11), (2L, "b", 21)).toDF("k", "p", "v"), Nil))
    Files.delete(tlB)
    Files.move(aside, tlB)
    assert(leftovers(path).contains(s"_timeline/$token.delta.inflight"), leftovers(path))
    t.upsert(Seq((1L, "a", 12)).toDF("k", "p", "v"), Nil)
    assert(t.parentTimeline().last.seq > token, "the failed commit's token was handed out again")
    assert(t.read().filter(col("k") === 1L).head().getAs[Int]("v") == 12)
  }

  /** `local` with each instant rename (the publish) passed through `publish`. */
  private def hooked(local: FileSystem)(publish: (=> Boolean) => Boolean): FileSystem =
    new FilterFileSystem(local) {
      override def getScheme: String = local.getScheme
      override def rename(src: Path, dst: Path): Boolean =
        if (dst.getName.endsWith(".json")) publish(super.rename(src, dst))
        else super.rename(src, dst)
    }

  private def commitWithData(tl: Timeline, path: String): Unit =
    tl.commit("delta", seq => Some(new Path(path, s"delta/$seq"))) { seq =>
      fs(path).mkdirs(new Path(path, s"delta/$seq"))
      (MorTable.Instant(seq, "delta", seq, System.currentTimeMillis()), ())
    }

  test("a publish that throws keeps the data of an instant that landed and releases one that did not") {
    val path = TestSpark.tmpDir("tl-publish")
    val local = fs(path)
    var lostReply = true // else the rename itself fails
    val tl = new Timeline(hooked(local) { rename =>
      if (lostReply) { rename; throw new IOException("reply lost") }
      else throw new IOException("rename refused")
    }, new Path(path, "timeline"))
    intercept[IOException](commitWithData(tl, path))
    assert(tl.instants().map(_.seq) == Seq(1L))
    assert(local.exists(new Path(path, "delta/1")), "the published commit's data dir was deleted")
    assert(leftovers(path).isEmpty, leftovers(path))
    lostReply = false
    intercept[IOException](commitWithData(tl, path))
    assert(tl.instants().map(_.seq) == Seq(1L))
    assert(!local.exists(new Path(path, "delta/2")) && leftovers(path).isEmpty, leftovers(path))
  }

  test("a commit interrupted right after its publish rename keeps its data") {
    val path = TestSpark.tmpDir("tl-interrupt")
    val local = fs(path)
    // a streaming query stop interrupts the writer thread; here it lands
    // as the instant's rename returns
    val tl = new Timeline(hooked(local) { rename =>
      val ok = rename
      Thread.currentThread().interrupt()
      ok
    }, new Path(path, "timeline"))
    try {
      try commitWithData(tl, path)
      catch { case _: InterruptedException | _: InterruptedIOException => () }
    } finally Thread.interrupted()
    assert(tl.instants().map(_.seq) == Seq(1L))
    assert(local.exists(new Path(path, "delta/1")), "the published commit's data dir was deleted")
  }
}
