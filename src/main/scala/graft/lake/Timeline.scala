package graft.lake

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import MorTable.Instant

/** One commit timeline — the Hudi inflight → completed instants analog,
  * and the only code that names, lists, creates, renames or deletes a
  * file under a timeline dir. Every [[MorTable]] (a partition child
  * included) keeps one in `<table>/timeline` ([[Timeline.child]]); a
  * [[PartitionedMorTable]] keeps its table-global token space in a second
  * one ([[Timeline.parent]]). The files:
  *
  *  - `<seq>.<kind>.json`: a committed instant ([[MorTable.Instant]]). A
  *    commit is visible iff its instant exists; data lands first.
  *  - `<seq>.<kind>.inflight`: a claim ([[claim]]). Its writer renews the
  *    marker's mtime while it holds the claim, so one lease rule
  *    ([[Timeline.leaseMs]]) tells a live writer from a crash orphan. An
  *    orphan leaves a gap in the seq space and blocks nothing.
  *  - `_archived.v<N>`: the batch ids of instants folded away by
  *    [[archive]], so replay detection survives archival. Versions are
  *    immutable; a plain `_archived` file (older tables) reads as v0.
  *
  * Commit visibility and OCC rest on two filesystem primitives: atomic
  * rename (publish) and atomic exclusive create (claim). Both hold on
  * HDFS-class filesystems and the local FS. Plain S3A provides neither
  * (rename is copy+delete; create-no-overwrite is exists-then-create), so
  * on object stores without conditional writes a single writer per table
  * — or an external lock provider, as Hudi documents for its S3 OCC — is
  * required. */
final class Timeline(fs: => FileSystem, val dir: Path) {
  import Timeline._

  private lazy val canonDir = MorTable.canonPath(dir.toString)

  private def list(): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: FileNotFoundException => Nil }

  private def markerPath(seq: Long, kind: String): Path = new Path(dir, s"$seq.$kind.inflight")

  /** One listing: the instants ascending by seq, the claim markers and the
    * archive summaries. Each instant file is parsed once per JVM: the
    * parse cache is keyed by (canonical dir, name@len@mtime) from THIS
    * listing, so a seq rolled back and republished by another handle or
    * process (same name, new content) misses the cache instead of serving
    * a stale parse, and a deleted instant is never served. */
  def listing(): Listing = {
    MorTable.timelineLists.incrementAndGet()
    val stats = list()
    val instants = stats.filter(st => instantRe.matcher(st.getPath.getName).matches).map { st =>
      val key = cacheKey(st)
      val hit = instantCache.get(key)
      if (hit != null) hit
      else {
        MorTable.instantReads.incrementAndGet()
        val i = MorTable.parseInstant(read(st))
        if (instantCache.size > 65536) instantCache.clear()
        instantCache.put(key, i)
        i
      }
    }.sortBy(_.seq)
    Listing(instants, markersOf(stats),
      stats.flatMap(st => archiveVersion(st.getPath.getName).map(_ -> st)).sortBy(_._1))
  }

  /** All committed instants, ascending by seq. */
  def instants(): Seq[Instant] = listing().instants

  /** Seqs of `kind` claimed by live writers and not yet published, from
    * a markers-only listing: the one a caller takes BEFORE [[listing]]
    * when a writer publishing between the two must show up in one of them
    * (its instant lands before its marker goes). */
  def pending(kind: String): Set[Long] = markersOnly().pending(kind)

  /** Names of the live markers: evidence of a writer mid-publish right
    * now, which destructive verbs must refuse to run against. */
  def liveMarkers(): Seq[String] = markersOnly().liveMarkers

  private def markersOnly(): Listing = Listing(Nil, markersOf(list()), Nil)

  /** True iff micro-batch `batchId` committed (exactly-once replays): live
    * instants first, then the archive summary. */
  def isCommitted(batchId: Long): Boolean = batchId >= 0 && isCommitted(listing(), batchId)

  def isCommitted(l: Listing, batchId: Long): Boolean =
    batchId >= 0 && (l.instants.exists(_.batchId == batchId) || archivedBatchIds(l).contains(batchId))

  /** Batch ids in the newest archive summary of `l`, read once per JVM
    * (same cache key as instants). A concurrent [[archive]] may delete the
    * version between list and read: re-list and take the newest survivor. */
  private def archivedBatchIds(l: Listing): Set[Long] = {
    var cur = l
    var attempt = 0
    while (true) cur.archives.lastOption match {
      case None => return Set.empty
      case Some((_, st)) =>
        try {
          val key = cacheKey(st)
          val hit = archiveCache.get(key)
          if (hit != null) return hit
          val ids = "-?\\d+".r.findAllIn(read(st).dropWhile(_ != '[')).map(_.toLong).toSet
          if (archiveCache.size > 4096) archiveCache.clear()
          archiveCache.put(key, ids)
          return ids
        } catch {
          case _: IOException if attempt < 5 => attempt += 1; cur = listing()
        }
    }
    Set.empty // unreachable
  }

  /** Claim the next seq by EXCLUSIVE-creating its `<seq>.<kind>.inflight`
    * marker before any data is written. Two writers racing to one seq
    * cannot both win the O_EXCL create; the loser re-lists (markers count
    * as taken, so it claims past the winner) and retries.
    *
    * The exclusive create alone does not serialize a seq: markers are
    * released at publish, so a writer holding a pre-claim listing can win
    * the create for a seq whose previous claimer already published, and
    * two writers of different kinds claim under different marker names.
    * So every claim POST-VERIFIES: re-list after the create and yield to
    * ANY other same-seq entry. There is no tie-break between concurrent
    * markers (a "winner" rule could steal from a claimer that already
    * passed its own verify): both back off and re-list, their next
    * listings carry at least the published history, and timing jitter
    * breaks the symmetry within the attempt cap. */
  private def claim(kind: String): Long = {
    var attempt = 0
    def lost(): Unit = {
      attempt += 1
      if (attempt > 50) throw new IOException(
        s"seq allocation lost $attempt races at $dir — writer storm?")
    }
    while (true) {
      val names = (try fs.listStatus(dir).toSeq catch {
        case _: FileNotFoundException => fs.mkdirs(dir); Nil
      }).map(_.getPath.getName)
      val seq = names.flatMap(seqOf).foldLeft(0L)(math.max) + 1
      val marker = markerPath(seq, kind)
      try {
        if (fs.getScheme == "file")
          // java.nio createFile is O_EXCL-atomic; Hadoop's create(…, false)
          // on the local FS is exists-then-create (a TOCTOU window)
          java.nio.file.Files.createFile(java.nio.file.Paths.get(marker.toUri.getPath))
        else fs.create(marker, false).close()
        val contested = fs.listStatus(dir).toSeq.map(_.getPath.getName)
          .exists(n => n != marker.getName && seqOf(n).contains(seq))
        if (!contested) return seq
        fs.delete(marker, false)
        lost()
      } catch {
        // ONLY a lost race retries; any other IO failure (permissions,
        // disk full) propagates with its cause instead of spinning
        case _: java.nio.file.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.FileAlreadyExistsException => lost()
      }
    }
    0L // unreachable
  }

  /** One commit: [[claim]] a seq of `kind`, run `body` with it under the
    * lease ([[renewing]]), then publish the instant `body` returns; its
    * second result is returned. A throw from `body` RELEASES the claim —
    * `claimedDir(seq)` (the data the caller wrote under it) and the marker
    * are deleted — and is rethrown: a refused or failed commit leaves
    * nothing behind that a later writer or compaction would have to judge.
    * Two throws keep what may still be needed instead:
    *  - one after `body` called [[hold]] (rows stamped with `seq` are
    *    already visible elsewhere): marker and dir stay, so `seq` stays
    *    taken — an orphan past its lease blocks nothing;
    *  - one from the publish whose instant may have landed anyway (a
    *    rename whose reply was lost, an interrupt): the dir stays, and the
    *    marker goes only once the instant is seen. */
  def commit[T](kind: String, claimedDir: Long => Option[Path] = (_: Long) => None)
               (body: Long => (Instant, T)): T = {
    val seq = claim(kind)
    val marker = markerPath(seq, kind)
    def fail(e: Throwable, release: Boolean): Nothing = {
      if (!held.remove(seq) && release)
        try { claimedDir(seq).foreach(fs.delete(_, true)); fs.delete(marker, false) }
        catch { case r: Throwable => e.addSuppressed(r) }
      throw e
    }
    val (i, out) =
      try {
        val r = renewing(seq, kind)(body(seq))
        require(r._1.seq == seq && r._1.kind == kind, s"instant ${r._1} does not match claim $seq.$kind")
        r
      } catch { case e: Throwable => fail(e, release = true) }
    try writeInstant(i)
    catch {
      case e: Throwable =>
        // release a commit known unpublished; drop only the marker of one
        // known published; keep both when the check fails too
        val published = try Some(fs.exists(new Path(dir, instantName(i))))
        catch { case r: Throwable => e.addSuppressed(r); None }
        if (published.contains(true))
          try fs.delete(marker, false) catch { case r: Throwable => e.addSuppressed(r) }
        fail(e, release = published.contains(false))
    }
    held.remove(seq)
    fs.delete(marker, false)
    out
  }

  /** Called by a [[commit]] body once data stamped with `seq` is visible
    * outside the claimed dir (the partitioned parent's children adopting
    * their staged rows): from then on a failure keeps the claim, so no
    * later commit is handed `seq` again and stamps rows that tie with
    * these. */
  def hold(seq: Long): Unit = { held.add(seq); () }

  private val held = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** Publish `i` outside [[commit]] (a seq the caller owns by
    * construction: a bootstrap or clone of an empty table) and drop its
    * marker, if any. */
  def publish(i: Instant): Unit = {
    writeInstant(i)
    fs.delete(markerPath(i.seq, i.kind), false)
    ()
  }

  /** Write `i`'s instant file via tmp + rename. Refuses to replace a
    * committed instant (local-FS rename overwrites): with claimed seqs a
    * same-seq publish can only mean a bypassed claim, which must fail
    * loudly. The new file's status pre-populates the parse cache (one
    * metadata call, not a content read), so the writer's next listing
    * reads nothing. */
  private def writeInstant(i: Instant): Unit = {
    val name = instantName(i)
    val dst = new Path(dir, name)
    if (fs.exists(dst)) throw new IOException(
      s"instant already published — refusing to overwrite committed $dst")
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(i.toJson.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!fs.rename(tmp, dst)) throw new IOException(s"commit rename failed: $dst")
    try instantCache.put(cacheKey(fs.getFileStatus(dst)), i)
    catch { case _: IOException => () }
    ()
  }

  /** Liveness heartbeat for the claim `<seq>.<kind>`: touch its marker's
    * mtime every `periodMs` while `body` runs, so marker age means "ms
    * since the writer last proved liveness" — what the lease rule wants —
    * rather than "ms since the claim". A daemon thread, stopped (and
    * joined) whether `body` completes or throws; a vanished marker (the
    * publish already dropped it) is ignored. */
  def renewing[T](seq: Long, kind: String, periodMs: Long = 15000L)(body: => T): T = {
    val marker = markerPath(seq, kind)
    val stop = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      while (!stop.await(periodMs, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try fs.setTimes(marker, System.currentTimeMillis(), -1)
        catch { case _: IOException => () }
      }
    }, s"graft-marker-renew-${marker.getName}")
    t.setDaemon(true)
    t.start()
    try body finally { stop.countDown(); t.join(1000) }
  }

  /** Archive `doomed` (instants of listing `l`): fold their batch ids into
    * the next archive version, renamed into place under a fresh name;
    * only then delete the older versions and the doomed instants, so no
    * reader ever sees a window with no archive or with neither the
    * instant nor its archived batch id. Single archiver per table (the
    * Hudi table-service assumption). */
  def archive(l: Listing, doomed: Seq[Instant]): Unit = if (doomed.nonEmpty) {
    val ids = (archivedBatchIds(l) ++ doomed.map(_.batchId).filter(_ >= 0)).toSeq.sorted
    val v = l.archives.lastOption.map(_._1).getOrElse(0L) + 1
    val tmp = new Path(dir, s"._archived.v$v.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"batchIds":[${ids.mkString(",")}]}""".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(dir, s"_archived.v$v")
    if (!fs.rename(tmp, dst)) throw new IOException(s"archive rename failed: $dst")
    l.archives.foreach { case (_, st) => fs.delete(st.getPath, false) }
    doomed.foreach(delete)
  }

  /** Delete instant `i` (rollback and restore; the caller deletes its data
    * after, so no listing resolves an instant whose data is gone). */
  def delete(i: Instant): Unit = {
    fs.delete(new Path(dir, instantName(i)), false)
    ()
  }

  private def cacheKey(st: FileStatus): (String, String) =
    (canonDir, s"${st.getPath.getName}@${st.getLen}@${st.getModificationTime}")

  /** The file's content, sized by its listed length (no status call). */
  private def read(st: FileStatus): String = {
    val buf = new Array[Byte](st.getLen.toInt)
    val in = fs.open(st.getPath)
    try in.readFully(0, buf) finally in.close()
    new String(buf, StandardCharsets.UTF_8)
  }
}

object Timeline {

  /** A marker renewed within this many ms belongs to a live writer; an
    * older one is a crash orphan. Writers renew every 15 s ([[renewing]]). */
  val leaseMs: Long = 60000L

  /** The timeline of a [[MorTable]] (or partition child) at `table`. */
  def child(fs: => FileSystem, table: Path): Timeline = new Timeline(fs, new Path(table, "timeline"))

  /** The table-global token timeline of a [[PartitionedMorTable]] at `table`. */
  def parent(fs: => FileSystem, table: Path): Timeline = new Timeline(fs, new Path(table, "_timeline"))

  /** A claim marker; `live` per the lease rule at listing time. */
  final case class Marker(name: String, seq: Long, kind: String, live: Boolean)

  /** One listing ([[Timeline.listing]]): instants ascending by seq, claim
    * markers, and archive summaries ascending by version. */
  final case class Listing(instants: Seq[Instant], markers: Seq[Marker],
                           archives: Seq[(Long, FileStatus)]) {
    /** The markers of writers holding their claim now (the lease rule). */
    private def live: Seq[Marker] = markers.filter(_.live)
    def liveMarkers: Seq[String] = live.map(_.name)
    def pending(kind: String): Set[Long] = live.filter(_.kind == kind).map(_.seq).toSet
  }

  private val instantRe = java.util.regex.Pattern.compile("\\d+\\.[a-z]+\\.json")
  private val markerRe = java.util.regex.Pattern.compile("(\\d+)\\.([a-z]+)\\.inflight")

  private def instantName(i: Instant): String = s"${i.seq}.${i.kind}.json"

  /** The seq a timeline entry takes (instant or marker); None for tmp and
    * archive files. */
  private def seqOf(name: String): Option[Long] = name.takeWhile(_ != '.') match {
    case s if s.nonEmpty && s.forall(_.isDigit) => Some(s.toLong)
    case _ => None
  }

  private def archiveVersion(name: String): Option[Long] =
    if (name == "_archived") Some(0L)
    else if (name.startsWith("_archived.v")) name.stripPrefix("_archived.v").toLongOption
    else None

  private def markersOf(stats: Seq[FileStatus]): Seq[Marker] = {
    val now = System.currentTimeMillis()
    stats.flatMap { st =>
      val m = markerRe.matcher(st.getPath.getName)
      if (m.matches) Some(Marker(st.getPath.getName, m.group(1).toLong, m.group(2),
        now - st.getModificationTime < leaseMs))
      else None
    }
  }

  // cross-handle parse caches of immutable timeline files (see
  // MorTable.scanCacheG for why caches outlive handles); purged with the
  // table's other caches by MorTable.purgeCaches
  private[lake] val instantCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Instant]()
  private[lake] val archiveCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Set[Long]]()
}
