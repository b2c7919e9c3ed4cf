package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Partitioned merge-on-read lake table — the `PARTITIONED BY` form of
  * [[MorTable]] (the reference's Hudi tables are unpartitioned, SURVEY §4
  * "partition pruning: none"; real lakes partition by ingest date, so this
  * is the shape a 100 TB deployment actually runs).
  *
  * Layout: one child MOR table per partition value,
  * `<path>/p=<value>/{timeline,delta,base}`. That mirrors Hudi's
  * per-file-group independence and buys, with no extra machinery:
  *
  *  - **per-partition compaction** — each child has its own timeline and
  *    num_or_time trigger, so only partitions that received deltas compact;
  *    a hot today-partition can compact every 2 commits while cold history
  *    is never rewritten (the compaction cost is O(churned partitions), not
  *    O(table)).
  *  - **partition-pruned reads** — `read(values)` opens only the named
  *    children; nothing else is even listed.
  *  - **one cluster job per commit** — an upsert runs ONE `partitionBy`
  *    staged write for the whole batch (one dedup shuffle over
  *    (partition, key), one write); each touched partition then adopts its
  *    staged directory with a metadata-only rename + timeline instant. The
  *    commit cost is O(batch) cluster work + O(touched partitions) driver
  *    metadata, never O(partitions) Spark jobs.
  *
  * Exactly-once: the parent records each batchId on its own timeline
  * (a fully replayed batch is skipped before any cluster work), and the
  * children share the caller's batchId, so a crash mid-adoption re-runs
  * only children that had not committed (their `isCommitted` is false).
  *
  * `_commit_seqno` comes from the parent's table-global commit counter —
  * baked into the staged write before partition fan-out — so last-write-
  * wins ordering stays consistent across upserts and deletes no matter
  * which partitions each touched. Child timeline seqs stay child-local
  * (they only name delta/base directories). Always write through the
  * parent; direct `child(v).upsert` would re-enter the child-local seqno
  * space and break the ordering.
  *
  * Partition values are rendered as strings in directory names (Hive-style
  * `p=<value>`); the partition column stays in the child data, so reads
  * need no reconstruction. Null partition values land in the Hive default
  * partition name.
  */
final class PartitionedMorTable(
    spark: SparkSession,
    val path: String,
    val keyCols: Seq[String],
    partCol: String,
    val compactionDeltaCommits: Int = 2,
    val compactionDeltaSeconds: Long = 120L,
    val autoCompact: Boolean = true,
    /** Explicit range-partition count for the batched compaction write.
      * 0 (default) lets AQE size the ranges to target-sized files — the
      * production behavior; set explicitly when AQE's coalescing would
      * fold everything into one file (tiny tables, tests). */
    val writePartitions: Int = 0) extends LakeTable {

  private val hPath = new Path(path)
  private def fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Child table for one partition value (creates nothing until written).
    * The parent's declared `writePartitions` flows through, so PER-CHILD
    * service writes (child-side compaction, z-order clustering) honor the
    * same file-count declaration as the parent's batched staged writes. */
  def child(value: String): MorTable = {
    // memoized per value: parChildren builds handles per CALL, and a fresh
    // handle re-derives per-handle state (inherited stats/index columns)
    // each time — the commit-dir/instant caches are
    // cross-handle (MorTable.scanCacheG family) but handle construction
    // itself is not free at a per-op fan-out of O(partitions)
    val t = childHandles.computeIfAbsent(value, v =>
      new MorTable(spark, new Path(hPath, s"p=$v").toString, keyCols,
        compactionDeltaCommits, compactionDeltaSeconds, autoCompact,
        writePartitions))
    if (idxCols.nonEmpty) t.indexColumns(idxCols) else t
  }

  @transient private lazy val childHandles =
    new java.util.concurrent.ConcurrentHashMap[String, MorTable]()

  /** Run an independent per-child maintenance step over `xs` with a small
    * thread pool (guide §2.6 "overlap independent jobs"): each child is its
    * own table (own dirs, own timeline), and the per-child steps here are
    * tiny driver-latency-bound Spark queries (minor planning, manifest
    * stats passes) or FS commit rounds — run sequentially each pays its
    * full planning/scheduling round-trip while 31 cores idle. Spark's
    * scheduler runs concurrent jobs FIFO and back-fills the tail. Order of
    * RESULTS is preserved (futures joined in input order); failures
    * propagate like the sequential loop's, after every sibling has been
    * cancelled and has stopped. Parallelism is bounded by `par`, by default
    * `spark.graft.maintenance.parallelism` (default 8 — enough to overlap
    * commit latency, far below task-slot pressure; raise on object stores
    * where per-commit round-trips dominate at high partition counts). */
  private def perChildInParallel[A, B](xs: Seq[A], par: Int = maintenanceParallelism)
                                      (f: A => B): Seq[B] = {
    if (xs.lengthCompare(2) < 0) return xs.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(xs.size, par))
    try {
      val futs = xs.map(x => pool.submit(
        new java.util.concurrent.Callable[B] { override def call(): B = f(x) }))
      try futs.map { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      } catch {
        case e: Throwable =>
          // stop the siblings BEFORE the failure reaches the caller: a
          // child still queued or running would otherwise go on committing
          // after the caller has seen the call fail
          futs.foreach(_.cancel(true))
          pool.shutdownNow()
          pool.awaitTermination(600, java.util.concurrent.TimeUnit.SECONDS)
          throw e
      }
    } finally pool.shutdown()
  }

  private def maintenanceParallelism: Int =
    spark.conf.getOption("spark.graft.maintenance.parallelism")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(8)

  /** Declared secondary bloom-index columns, forwarded to every child
    * handle so each child's NEXT compaction publishes the per-file
    * filters ([[MorTable.indexColumns]]); once a child's manifest carries
    * them, fresh handles inherit without redeclaration. */
  @volatile private var idxCols: Seq[String] = Nil
  def indexColumns(cols: Seq[String]): PartitionedMorTable = {
    idxCols = cols; this
  }

  /** Partition values present on disk. */
  def partitions(): Seq[String] = {
    if (!fs.exists(hPath)) return Seq.empty
    fs.listStatus(hPath).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("p=")).map(_.stripPrefix("p=")).sorted
  }

  // ------------------------------------------------------- parent timeline

  /** The table-global token timeline ([[Timeline]]): the `_commit_seqno`
    * counter and the whole-batch exactly-once record. */
  @transient private[lake] lazy val parentLog: Timeline = Timeline.parent(fs, hPath)

  /** Parent-level commit instants, ascending by token. */
  def parentTimeline(): Seq[MorTable.Instant] = parentLog.instants()

  /** Bound the parent instant listing (the child `clean()` analog):
    * archive all but the newest `keepLast` instants. Keeping a tail of
    * live instants preserves the token claim's max-seq floor, so an
    * archived token can never be re-claimed. Returns #instants archived. */
  def cleanParentTimeline(keepLast: Int = 100): Int = {
    val l = parentLog.listing()
    val doomed = l.instants.dropRight(keepLast)
    parentLog.archive(l, doomed)
    doomed.size
  }

  /** True iff this batchId fully committed (all touched partitions
    * adopted) — live instants first, then the archived summary. */
  def isCommitted(batchId: Long): Boolean = parentLog.isCommitted(batchId)

  /** Write expectations ([[Expectations]]) on this handle's commits:
    * DROP mode filters the raw batch before the per-(partition, key)
    * dedup; FAIL mode refuses a violating staged write before any child
    * adopts it. */
  def withExpectations(exps: Seq[(String, Column)],
                       dropViolations: Boolean = false): PartitionedMorTable =
    withExpectations(exps, if (dropViolations) "drop" else "fail")

  /** [[withExpectations]] by mode name: `fail` | `drop` | `quarantine`
    * (the quarantine side relation lives at the PARENT level, one for the
    * whole table). */
  def withExpectations(exps: Seq[(String, Column)],
                       mode: String): PartitionedMorTable = {
    expectations = new Expectations(exps, mode)
    this
  }
  @transient private var expectations: Expectations = Expectations.none

  /** The parent-level quarantine side relation
    * ([[Expectations.readQuarantine]]). */
  def readQuarantine(): DataFrame = Expectations.readQuarantine(spark, path)

  /** The one staged partitioned commit every write verb runs. A replayed
    * batch is a no-op before `rows` (commit rows short of the stamp) is
    * built. Otherwise, as one [[Timeline.commit]] on the parent timeline:
    * claim a token of `kind`, stamp the rows with it, route every row to
    * its partition in ONE `partitionBy` write, refuse the write on a
    * FAIL-mode expectation violation (a `delete` holds only tombstones and
    * is not checked), adopt each staged partition dir into its child and
    * publish the parent instant; a throw before any child adopts removes
    * the staged dir and the claim, one after keeps the token taken
    * ([[Timeline.hold]]). Then compact what is due. `prove` sees the
    * stamped rows before the write and returns the rows to write plus a
    * per-partition insert-only verdict ([[upsertIfNew]]); the verdicts are
    * returned. */
  private def stagedCommit(kind: String, batchId: Long, rows: => DataFrame,
                           prove: DataFrame => (DataFrame, Map[String, Boolean]) =
                             staged => (staged, Map.empty)): Map[String, Boolean] = {
    if (isCommitted(batchId)) return Map.empty
    val unstamped = rows
    val stagingDir = (token: Long) => new Path(hPath, s".staging/$token")
    val verdicts = parentLog.commit(kind, token => Some(stagingDir(token))) { token =>
      val now = System.currentTimeMillis()
      val (staged, verdicts) = prove(CommitRows.stamp(unstamped, token, now)
        .withColumn("__p", col(partCol).cast("string")))
      val (checked, guard) =
        if (kind == "delete") (staged, Expectations.Guard.none)
        else expectations.guard(staged)
      checked.write.partitionBy("__p").mode("overwrite").parquet(stagingDir(token).toString)
      guard.refuseIfViolated(s"partitioned commit $token")
      parentLog.hold(token) // children publish rows stamped `token` from here
      adoptStaged(stagingDir(token), batchId, verdicts.filter(_._2).keySet,
        schemaHint = Some(staged.drop("__p").schema))
      (MorTable.Instant(token, kind, batchId, now), verdicts)
    }
    if (autoCompact) maybeCompact()
    verdicts
  }

  /** Per-(partition, key) batch dedup, last by `order`. */
  private def dedupBatch(batch: DataFrame, order: Seq[Column]): DataFrame =
    if (order.isEmpty) batch
    else CommitRows.latestPerKey(batch, (partCol +: keyCols).map(col), order.map(_.desc))

  /** Keyed upsert of a batch: ONE staged cluster write partitioned by the
    * partition column, then a metadata-only adoption per touched partition,
    * all tagged with `batchId`. A key must not move between partitions
    * (same rule as Hudi's default key/partition-path contract); use the
    * partition column as part of the key if it can. */
  def upsert(batch: DataFrame, orderWithinBatch: Seq[Column],
             batchId: Long = -1L): PartitionedMorTable = {
    stagedCommit("delta", batchId, CommitRows.withMeta(dedupBatch(
      expectations.dropViolating(batch, batchId, path), orderWithinBatch),
      keyCols, deleted = false))
    this
  }

  /** Move every staged `__p=<value>` directory into its child table as that
    * child's next delta commit — renames + timeline instants only.
    * `provenNew` children get the insert-only flag on their instant
    * ([[upsertIfNew]]'s per-partition proof). */
  private def adoptStaged(stagingDir: Path, batchId: Long,
                          provenNew: Set[String] = Set.empty,
                          schemaHint: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    if (fs.exists(stagingDir)) {
      // per-child delta adoption is rename + instant-publish FS rounds on
      // independent child dirs — overlapped for the object-store case
      // where each commit round-trip is tens of ms (free locally)
      perChildInParallel(fs.listStatus(stagingDir).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("__p="))) { p =>
          val value = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(p.getName.stripPrefix("__p="))
          child(value).adoptDelta(p, batchId, insertOnly = provenNew(value),
            schemaHint = schemaHint)
        }
      fs.delete(stagingDir, true)
    }
    ()
  }

  /** [[upsert]] with the WRITE-PATH INDEX TAGGING proof, per partition —
    * the partitioned form of [[MorTable.upsertIfNew]] and the shape that
    * matters at 100 TB: the deduped batch collapses to ONE (partition →
    * bloom + key bounds) stats relation (touched-partitions-sized), each
    * touched child's manifest key bounds pre-prune its base files
    * driver-side, and every surviving path across ALL children is probed
    * in ONE job — each scanned row checks against ITS OWN partition's
    * batch filter via a broadcast partition→bloom map, so the probe cost
    * is one key-column scan over range-surviving files regardless of how
    * many partitions the batch touches (never a job per partition).
    * Children with no hit commit insert-only (their snapshot merges and
    * compactions skip the LWW window); a hit — or a bloom false positive
    * — only downgrades THAT child to the normal merge path. Returns the
    * per-partition verdicts. Same probe-to-commit race caveat as the
    * unpartitioned form. */
  def upsertIfNew(batch: DataFrame, orderWithinBatch: Seq[Column],
                  batchId: Long = -1L,
                  bloomBits: Int = 1 << 17): Map[String, Boolean] = {
    graft.GraftFunctions.register(spark)
    // the stamped batch is pinned, its keys summarized per partition and
    // probed against each child before the one staged write
    def prove(stamped: DataFrame): (DataFrame, Map[String, Boolean]) = {
      val staged = stamped.localCheckpoint(true) // pinned: stats agg + probe + write reuse it
      val stats = staged.groupBy(col("__p"))
        .agg(call_function("key_bloom_agg", col("_record_key"), lit(bloomBits)).as("f"),
          min(col("_record_key")).as("mn"), max(col("_record_key")).as("mx"))
        .collect() // touched-partitions-sized by construction
      val existing = partitions().toSet
      // a child still on a meta-less bootstrap base has no on-disk
      // _record_key to probe — FAIL CLOSED: downgrade it to the normal
      // merge path (a false "proven new" would corrupt LWW; a missed
      // fast path only costs the dedup window)
      val bootDowngrade: Set[String] = stats.toSeq.map(_.getString(0))
        .filter(p => existing(p) && child(p).metalessBootstrapBase().isDefined)
        .toSet
      val toScan = stats.toSeq.flatMap { r =>
        val p = r.getString(0)
        val paths =
          if (existing(p) && !bootDowngrade(p))
            child(p).probePaths(r.getString(2), r.getString(3))
          else Nil // a partition born in this batch is trivially all-new
        if (paths.isEmpty) None
        else Some((p, paths, r.getAs[Array[Byte]]("f")))
      }
      val hitParts: Set[String] =
        if (toScan.isEmpty) Set.empty
        else {
          // ONE probe job across every child: each row checks against its
          // OWN partition's batch filter. THREE representations of a
          // partition value are in play — the raw value (child dirs are
          // `p=<raw>`; stats rows carry it), Hive's escapePathName (staged
          // `__p=` dirs), and the Hadoop-Path URI encoding that
          // input_file_name() yields (FileScanRDD's urlEncodedPath). The
          // probe map is keyed by the LAST one, computed driver-side with
          // the same Path→URI machinery, so the extracted `__part` segment
          // and the map key agree by construction for any value; `encToRaw`
          // maps verdicts back without a second (possibly disagreeing)
          // decoder.
          def encSeg(v: String): String =
            new Path(s"/p=$v").toUri.getRawPath.stripPrefix("/p=")
          val encToRaw = toScan.map { case (p, _, _) => encSeg(p) -> p }.toMap
          val bloomMap = map(toScan.flatMap { case (p, _, f) =>
            Seq(lit(encSeg(p)), lit(f))
          }: _*)
          val partOf = regexp_extract(input_file_name(), "/p=([^/]+)/", 1)
          // FAIL CLOSED: a missed map lookup makes element_at null and the
          // bloom probe null — coalesce(…, true) keeps the row, so an
          // unmatchable segment downgrades its child to the normal merge
          // path instead of silently proving newness (a false "proven new"
          // would flag the commit insertOnly and corrupt LWW merges — the
          // no-false-proof invariant).
          val hitSegs = spark.read.parquet(MorTable.globSafe(toScan.flatMap(_._2)): _*)
            .select(col("_record_key"), partOf.as("__part"))
            .filter(coalesce(call_function("key_bloom_contains",
              element_at(bloomMap, col("__part")), col("_record_key")), lit(true)))
            .select("__part").distinct().collect().map(_.getString(0)).toSeq
          if (hitSegs.exists(s => !encToRaw.contains(s)))
            toScan.map(_._1).toSet // unmapped segment → fail closed everywhere
          else hitSegs.map(encToRaw).toSet
        }
      val proven = stats.map(_.getString(0)).filterNot(hitParts)
        .filterNot(bootDowngrade).toSet
      (staged, stats.map(r => r.getString(0) -> proven(r.getString(0))).toMap)
    }
    stagedCommit("delta", batchId, CommitRows.withMeta(dedupBatch(
      expectations.dropViolating(batch, batchId, path), orderWithinBatch),
      keyCols, deleted = false), prove)
  }

  /** Predicate delete across partitions (`DELETE FROM t WHERE …`):
    * resolve matching (partition, key) pairs with one (optionally pruned)
    * read, then tombstone them through the one-job staged path. */
  def deleteWhere(cond: Column, batchId: Long = -1L,
                  values: Seq[String] = Seq.empty): PartitionedMorTable =
    delete(read(values).filter(cond)
      .select((partCol +: keyCols).map(col): _*), batchId)

  /** [[deleteWhere]] through the cross-partition point read when the
    * predicate implies a record-key set ([[MorTable.deleteWhereKeys]]
    * contract): child bloom/range pruning bounds the scan to probe-hit
    * files across the selected partitions. */
  def deleteWhereKeys(recordKeys: Seq[String], cond: Column,
                      batchId: Long = -1L,
                      values: Seq[String] = Seq.empty): PartitionedMorTable =
    delete(readForKeys(recordKeys, values).filter(cond)
      .select((partCol +: keyCols).map(col): _*), batchId)

  /** Predicate update across partitions (the MERGE-update analog):
    * rewrite matching images, upsert through the one-job staged path.
    * Updating `partCol` itself is refused — a key never moves
    * partitions (the global PK includes the partition). All assignments
    * evaluate against the ORIGINAL row in one projection (SQL UPDATE
    * semantics — see [[MorTable.updateWhere]]). */
  def updateWhere(cond: Column, set: Map[String, Column], batchId: Long = -1L,
                  values: Seq[String] = Seq.empty): PartitionedMorTable =
    updateOver(read(values).filter(cond), set, batchId)

  /** [[updateWhere]] through the cross-partition point read (see
    * [[deleteWhereKeys]]). */
  def updateWhereKeys(recordKeys: Seq[String], cond: Column,
                      set: Map[String, Column], batchId: Long = -1L,
                      values: Seq[String] = Seq.empty): PartitionedMorTable =
    updateOver(readForKeys(recordKeys, values).filter(cond), set, batchId)

  private def updateOver(base: DataFrame, set: Map[String, Column],
                         batchId: Long): PartitionedMorTable = {
    require(!set.keys.exists(_.equalsIgnoreCase(partCol)),
      s"updateWhere cannot move rows across partitions ($partCol is part of the PK)")
    upsert(MorTable.updatedImages(base, set), keyCols.map(col), batchId)
  }

  /** Apply one changelog micro-batch (the op/before/after/seq envelope of
    * graft.sources.ChangelogSource) as ONE staged partitioned commit:
    * I/U rows become upserts, D rows tombstones (before-image keys), mixed
    * in the same `partitionBy` cluster write — so a micro-batch is
    * exactly-once atomic per child through the same rename+instant
    * adoption as [[upsert]]. The partition of each row comes from its own
    * image's `partCol`, so the streaming CDC pipeline lands rows in
    * per-partition children with zero extra jobs.
    *
    * Partition semantics (the global PK is (partition, key)):
    *  - batch dedup is per (image partition, key) — envelope keys that are
    *    only unique WITHIN a partition never collapse across partitions;
    *  - a U whose before/after images disagree on `partCol` (a
    *    partition move) additionally emits a tombstone into the BEFORE
    *    partition at the same seq, so the old partition's copy — whether
    *    from an earlier commit or earlier in this batch — is retired and
    *    `read()` can never return the key twice. A move can only be
    *    detected when the U carries its before image (the CDC contract).
    *
    * `tiebreak` (image field names, applied DESC after seq): deterministic
    * resolution when the source's `seq` is not a total order per key —
    * e.g. an event-time seq with duplicate timestamps (the same contract
    * as `ChangelogSource.materialize`). */
  def applyChangelog(envelope: DataFrame, batchId: Long,
                     tiebreak: Seq[String]): PartitionedMorTable = {
    val pOf = (image: Column) => image.getField(partCol).cast("string")
    val events = envelope.select(
      when(col("op") === "D", col("before")).otherwise(col("after")).as("__r"),
      (col("op") === "D").as("__del"), col("key"), col("seq"))
    val moveTombstones = envelope
      .filter(col("op") === "U" && col("before").isNotNull &&
        pOf(col("before")) =!= pOf(col("after")))
      .select(col("before").as("__r"), lit(true).as("__del"),
        col("key"), col("seq"))
    val by = Seq(pOf(col("__r")), col("key"))
    // tombstone-first tie-break: a move-out tombstone shares its seq with
    // same-key rows only in the BEFORE partition, where it must win
    val order = Seq(col("seq").desc, col("__del").desc) ++
      tiebreak.map(f => col("__r").getField(f).desc)
    val rows = CommitRows.latestPerKey(events.unionByName(moveTombstones), by, order)
      .select(col("__r.*"), col("__del"))
    stagedCommit("delta", batchId, rows
      .withColumn("_record_key", CommitRows.recordKey(keyCols.map(col)))
      .withColumnRenamed("__del", "_deleted"))
    this
  }

  /** Tombstone deletes (keys must carry partCol): the same ONE staged
    * `partitionBy` cluster write + metadata-only adoption per touched
    * partition as [[upsert]] — not a driver-side loop of per-partition
    * Spark jobs. Tombstones carry only key/partition columns; the snapshot
    * merge unions by name with missing columns as null, and tombstoned
    * rows never surface, so no schema padding is needed. Consumes a parent
    * commit token so delete/upsert LWW ordering stays table-global. */
  def delete(keys: DataFrame, batchId: Long = -1L): PartitionedMorTable = {
    stagedCommit("delete", batchId,
      CommitRows.withMeta(keys.select((partCol +: keyCols).distinct.map(col): _*),
        keyCols, deleted = true))
    this
  }

  // ------------------------------------------------------------------ reads
  //
  // Every read below assembles ONE multi-directory parquet scan over the
  // selected children's live files (plan size O(1) in partition count),
  // never a per-partition unionByName chain (plan size O(partitions) —
  // on a date-partitioned 100 TB lake with ~1000 partitions the driver
  // would spend longer analyzing the union than running it). The only
  // O(partitions) work left is the per-child timeline listing, issued
  // concurrently below; the data-file listing inside the single scan is
  // Spark's own parallel InMemoryFileIndex.

  /** Run one task per selected partition concurrently (child timelines
    * are independent; a sequential loop over 1000 partitions would make
    * the driver the bottleneck before any task runs), up to 32 at once.
    * Same failure path as [[perChildInParallel]]: a failing child cancels
    * and awaits its siblings, so a mutating caller (`addColumns`,
    * `buildRecordIndex`, `clean`) never has a child still writing after
    * the call has failed. */
  private[graft] def parChildren[A](sel: Seq[String])(f: MorTable => A): Seq[A] =
    perChildInParallel(sel, par = 32)(v => f(child(v)))

  /** One scan over many commit dirs; the merged schema covers narrow
    * commits (staged deletes write key+meta-only tombstone rows). Cached
    * per exact dir SET (commit dirs are immutable; the set changes only
    * when a commit lands, which keys a different entry). The schema is
    * composed from the dirs' registered relations when it can be
    * ([[registeredMergedSchema]]); otherwise mergeSchema infers it, a
    * footer-reading Spark job. Purge-by-containment in
    * [[MorTable.purgeCaches]] covers these multi-dir keys. */
  private def scanDirs(dirs: Seq[String]): DataFrame = {
    val key = (System.identityHashCode(spark),
      dirs.map(MorTable.canonPath).sorted.mkString("|"))
    val hit = MorTable.scanCacheG.get(key)
    if (hit != null) hit
    else {
      val paths = MorTable.globSafe(dirs)
      val df = registeredMergedSchema(dirs) match {
        case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
        case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
      }
      if (MorTable.scanCacheG.size > 2048) MorTable.scanCacheG.clear()
      MorTable.scanCacheG.put(key, df)
      df
    }
  }

  /** The schema mergeSchema would infer for a scan over `dirs`, composed
    * from the relations `adoptDelta`/`adoptBase` (or an earlier single-dir
    * read) registered per commit dir in [[MorTable.scanCacheG]]: fields in
    * first-seen order over the dirs in scan order, which is the order the
    * footer merge produces (every file of one commit dir carries that
    * dir's schema). A bloom-pruned point read lists base FILES: a file
    * takes its commit dir's schema (a narrower carried file reads its
    * missing columns as null, the allowMissingColumns contract). None when
    * a path is unregistered, or when a column's type differs between dirs
    * or its name differs only in case — the caller infers then. */
  private def registeredMergedSchema(dirs: Seq[String]): Option[StructType] = {
    val sid = System.identityHashCode(spark)
    def registeredAt(p: String) = Option(MorTable.scanCacheG.get((sid, p)))
    val registered = dirs.map { d =>
      val p = MorTable.canonPath(d)
      registeredAt(p).orElse(registeredAt(p.substring(0, p.lastIndexOf('/'))))
    }
    if (registered.exists(_.isEmpty)) return None
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    val consistent = registered.flatMap(_.get.schema.fields).forall { f =>
      merged.get(f.name) match {
        case Some(seen) =>
          merged(f.name) = seen.copy(nullable = seen.nullable || f.nullable)
          seen.dataType == f.dataType
        case None =>
          merged(f.name) = f
          !merged.keys.exists(n => n != f.name && n.equalsIgnoreCase(f.name))
      }
    }
    if (consistent) Some(StructType(merged.values.toSeq)) else None
  }

  /** Table-global last-write-wins: `_commit_seqno` is the parent token. */
  private def lwwLatest(df: DataFrame): DataFrame =
    CommitRows.latestPerKey(df, Seq(col(partCol), col("_record_key")),
      Seq(col("_commit_seqno").desc))

  /** User-facing column order: keys, partition, then remaining data
    * columns in scan order (mergeSchema's field order depends on file
    * listing order, so pin the prefix deterministically). */
  private def orderedDataCols(scanCols: Seq[String]): Seq[String] =
    (keyCols :+ partCol) ++
      scanCols.filterNot(c => CommitRows.metaCols.contains(c) ||
        c == partCol || keyCols.contains(c))

  /** Snapshot read over the named partitions only (partition pruning), or
    * the whole table when `values` is empty. */
  def read(values: Seq[String] = Seq.empty): DataFrame = {
    val sel = if (values.nonEmpty) values else partitions()
    require(sel.nonEmpty, s"PartitionedMorTable at $path has no partitions")
    val perChild = parChildren(sel)(c =>
      (c.liveScanDirs(), c.metalessBootstrapBase()))
    // a meta-less bootstrap base cannot join the raw multi-dir scan (no
    // lake columns on disk — null `_deleted` would silently drop every
    // row); route those children through the one synthesizing scan
    val boots = sel.zip(perChild).collect { case (v, (_, Some(i))) => (v, i) }
    val dirs = perChild.flatMap { case ((base, deltas), boot) =>
      (if (boot.isDefined) Nil else base.toSeq) ++ deltas
    }
    val scans = (if (dirs.nonEmpty) Seq(scanDirs(dirs)) else Nil) ++
      bootstrapScan(boots).toSeq
    require(scans.nonEmpty, s"PartitionedMorTable at $path has no commits")
    val scan = scans.reduce(_.unionByName(_, allowMissingColumns = true))
    // a child whose live set is a single dir (just-compacted base, one
    // delta, or the bootstrap base) already holds ≤1 row per (partition,
    // key): when EVERY child is in that state the LWW window's shuffle
    // is a no-op — skip it
    val merged =
      if (perChild.forall { case ((base, deltas), _) =>
        base.size + deltas.size <= 1 }) scan
      else lwwLatest(scan)
    merged.filter(!col("_deleted"))
      .select(orderedDataCols(scan.columns).map(col): _*)
  }

  /** READ-OPTIMIZED (RO) view over the named partitions (all when
    * `values` is empty) — each child's last compacted base dir ONLY, as
    * ONE multi-dir scan ([[MorTable.snapshotReadOptimized]] semantics:
    * freshness = each child's last compaction; live deltas and
    * never-compacted children excluded by definition). No LWW window at
    * all: a compacted base holds ≤1 row per key and RO reads nothing
    * else, so the scan carries filters/projections straight to parquet. */
  def readOptimized(values: Seq[String] = Seq.empty): DataFrame = {
    val sel = if (values.nonEmpty) values else partitions()
    require(sel.nonEmpty, s"PartitionedMorTable at $path has no partitions")
    // a bootstrap base IS the compaction-boundary state (the
    // unpartitioned snapshotReadOptimized serves it the same way) — but
    // meta-less files can't ride the raw multi-dir scan; synthesize
    val perChild = parChildren(sel)(c => c.metalessBootstrapBase() match {
      case Some(i) => Left(i)
      case None => Right(c.roScanDir())
    })
    val boots = sel.zip(perChild).collect { case (v, Left(i)) => (v, i) }
    val dirs = perChild.collect { case Right(Some(d)) => d }
    val scans = (if (dirs.nonEmpty) Seq(scanDirs(dirs)) else Nil) ++
      bootstrapScan(boots).toSeq
    if (scans.isEmpty) return read(sel).limit(0) // nothing compacted yet
    val scan = scans.reduce(_.unionByName(_, allowMissingColumns = true))
    scan.filter(!col("_deleted"))
      .select(orderedDataCols(scan.columns).map(col): _*)
  }

  /** Planner COLUMN-NDV for the whole partitioned table: slot-max merge
    * of every compacted child's per-file HLL registers (their manifest
    * stats relations, ONE multi-dir scan) + the harmonic estimate —
    * registers union exactly across children, where the per-child header
    * ESTIMATES cannot be combined. Only stat columns present in EVERY
    * contributing child merge (a partially-covered column would silently
    * undercount); never-compacted children are not represented (the same
    * compaction-boundary semantics as [[MorTable.colNdv]]). The per-slot
    * max is a (4096-row)-sized collect; cached per contributing stats-dir
    * set, so repeated query analysis pays zero jobs. */
  def colNdv(): Map[String, Long] = {
    val parts = partitions()
    if (parts.isEmpty) return Map.empty
    val srcs = parChildren(parts)(_.ndvStatsSource()).flatten
    if (srcs.isEmpty) return Map.empty
    val key = srcs.map(_._1).sorted
    ndvCache match {
      case Some((k, v)) if k == key => v
      case _ =>
        val common = srcs.map(_._2.toSet).reduce(_ intersect _)
        val scan = scanDirs(srcs.map(_._1))
        val out = common.toSeq.sorted.map { c =>
          val rhos = scan.select(posexplode(col(s"hll_$c")))
            .groupBy(col("pos")).agg(max(col("col")).as("rho"))
            .collect().map(_.getInt(1)).toSeq
          c -> math.round(MorTable.hllEstimate(rhos))
        }.toMap
        ndvCache = Some((key, out))
        out
    }
  }
  @transient @volatile
  private var ndvCache: Option[(Seq[String], Map[String, Long])] = None

  /** Table-level (min, max) per stat column: header-only fold across the
    * compacted children ([[MorTable.colBounds]] per child) — columns
    * bounded in every contributing child only. */
  def colBounds(): Map[String, (Double, Double)] = {
    val parts = partitions()
    if (parts.isEmpty) return Map.empty
    val perChild = parChildren(parts)(c =>
      if (c.ndvStatsSource().isDefined) Some(c.colBounds()) else None).flatten
    if (perChild.isEmpty) return Map.empty
    val common = perChild.map(_.keySet).reduce(_ intersect _)
    common.map(c => c -> perChild.map(_(c)).reduce((a, b) =>
      (math.min(a._1, b._1), math.max(a._2, b._2)))).toMap
  }

  /** Cross-partition point read (the partitioned bloom-index read): the
    * snapshot restricted to the given record keys, across the named
    * partitions (all when `values` is empty). Each child contributes its
    * bloom-pruned base FILES plus live delta dirs ([[MorTable
    * .pointScanPaths]]) and everything unions into ONE multi-path scan —
    * the plan stays O(1) in partition count, and at 1000 partitions × N
    * base files the bloom drops the listing to the handful of files that
    * might hold the probe keys before any footer or task. The key
    * predicate is pushed into the single scan (parquet row-group stats +
    * per-file bloom skip inside survivors); LWW resolves per (partition,
    * key) on the parent token as in [[read]]. */
  def readForKeys(recordKeys: Seq[String],
                  values: Seq[String] = Seq.empty): DataFrame = {
    require(recordKeys.size <= 100000,
      s"readForKeys got ${recordKeys.size} keys — a literal In() this " +
        "large bloats the plan; scan-and-join instead")
    val sel = if (values.nonEmpty) values else partitions()
    require(sel.nonEmpty, s"PartitionedMorTable at $path has no partitions")
    if (recordKeys.isEmpty) return read(sel).limit(0)
    val perChild = parChildren(sel)(c =>
      (c.pointScanPaths(recordKeys), c.metalessBootstrapBase()))
    val paths = perChild.flatMap(_._1)
    // a bootstrap child has no on-disk _record_key: its base probes
    // through the synthesizing scan (the key filter lands on the
    // synthesized concat — no pushdown until its first compaction, the
    // same METADATA_ONLY trade as the unpartitioned form)
    val boots = sel.zip(perChild).collect { case (v, (_, Some(i))) => (v, i) }
    val scans = ((if (paths.nonEmpty) Seq(scanDirs(paths)) else Nil) ++
      bootstrapScan(boots).toSeq)
      .map(_.filter(col("_record_key").isin(recordKeys: _*)))
    if (scans.isEmpty) return read(sel).limit(0)
    val scan = scans.reduce(_.unionByName(_, allowMissingColumns = true))
    lwwLatest(scan).filter(!col("_deleted"))
      .select(orderedDataCols(scan.columns).map(col): _*)
  }

  /** Cross-partition RECORD-INDEXED point read ([[MorTable
    * .readForKeysIndexed]] at the 100 TB layout): children whose
    * record-level index is FRESH at their compaction boundary resolve
    * their base files through ONE union lookup over ALL those children's
    * postings relations — a single Spark job in partition count, pushed
    * key filter, only full `file` paths (written in the LISTED encoding
    * at index time — the manifest-stats recipe) reach the driver; their
    * deltas always scan. Children without a fresh index fall back to
    * their bloom pruning ([[MorTable.pointScanPaths]]), meta-less
    * bootstrap children to the synthesizing scan — per-child fail-closed,
    * never a wrong answer from a stale index. Everything unions into ONE
    * multi-path scan with the pushed key predicate; LWW per (partition,
    * key) on the parent token. */
  def readForKeysIndexed(recordKeys: Seq[String],
                         values: Seq[String] = Seq.empty): DataFrame = {
    require(recordKeys.size <= 100000,
      s"readForKeysIndexed got ${recordKeys.size} keys — a literal In() " +
        "this large bloats the plan; scan-and-join instead")
    val sel = if (values.nonEmpty) values else partitions()
    require(sel.nonEmpty, s"PartitionedMorTable at $path has no partitions")
    if (recordKeys.isEmpty) return read(sel).limit(0)
    // resolve the dispatch FIRST: a child with a fresh index (or a
    // meta-less bootstrap) never pays its bloom/manifest pruning —
    // pointScanPaths runs only on the fallback children
    val perChild = parChildren(sel) { c =>
      val boot = c.metalessBootstrapBase()
      val rli = if (boot.isDefined) None else c.freshRliDir()
      val fallback = if (boot.isDefined || rli.isDefined) Nil
                     else c.pointScanPaths(recordKeys)
      (rli, c.liveScanDirs()._2, fallback, boot)
    }
    val boots = sel.zip(perChild).collect { case (v, (_, _, _, Some(i))) => (v, i) }
    val rliDirs = perChild.collect { case (Some(d), _, _, None) => d }
    val pinnedFiles: Seq[String] =
      if (rliDirs.isEmpty) Nil
      else spark.read.parquet(MorTable.globSafe(rliDirs): _*)
        .filter(col("key").isin(recordKeys: _*))
        .select("file").distinct().collect().map(_.getString(0)).toSeq.sorted
    val paths = perChild.flatMap {
      case (Some(_), deltas, _, None) => deltas // base comes via the lookup
      case (None, _, fallback, None) => fallback
      case (_, _, _, Some(_)) => Nil // synthesizing scan below
    } ++ pinnedFiles
    val scans = ((if (paths.nonEmpty) Seq(scanDirs(paths)) else Nil) ++
      bootstrapScan(boots).toSeq)
      .map(_.filter(col("_record_key").isin(recordKeys: _*)))
    if (scans.isEmpty) return read(sel).limit(0)
    val scan = scans.reduce(_.unionByName(_, allowMissingColumns = true))
    lwwLatest(scan).filter(!col("_deleted"))
      .select(orderedDataCols(scan.columns).map(col): _*)
  }

  /** Build the record-level index on EVERY selected child ([[MorTable
    * .buildRecordIndex]] per partition — the partitioned front door of
    * `CALL graft_ops.create_record_index`). Loud on a child without a
    * managed compacted base (the pruned-verb contract): compact first.
    * Once built, per-child compactions refresh their own index. */
  def buildRecordIndex(values: Seq[String] = Seq.empty): Unit = {
    val sel = if (values.nonEmpty) values else partitions()
    require(sel.nonEmpty, s"PartitionedMorTable at $path has no partitions")
    parChildren(sel)(c => c.buildRecordIndex())
    ()
  }

  /** Cross-partition SCAN-AND-JOIN point read ([[MorTable.readForKeysOf]]
    * in the partitioned layout): the selected children's ONE multi-dir
    * scan semi-joins a record-key DataFrame of any size before the LWW
    * window — for probe sets past [[readForKeys]]'s literal-In() cap. */
  def readForKeysOf(keys: DataFrame, values: Seq[String] = Seq.empty): DataFrame = {
    require(keys.columns.length == 1,
      s"readForKeysOf expects ONE key column, got ${keys.columns.mkString(", ")}")
    val sel = if (values.nonEmpty) values else partitions()
    require(sel.nonEmpty, s"PartitionedMorTable at $path has no partitions")
    val perChild = parChildren(sel)(c =>
      (c.liveScanDirs(), c.metalessBootstrapBase()))
    val boots = sel.zip(perChild).collect { case (v, (_, Some(i))) => (v, i) }
    val dirs = perChild.flatMap { case ((base, deltas), boot) =>
      (if (boot.isDefined) Nil else base.toSeq) ++ deltas
    }
    val scans = (if (dirs.nonEmpty) Seq(scanDirs(dirs)) else Nil) ++
      bootstrapScan(boots).toSeq
    require(scans.nonEmpty, s"PartitionedMorTable at $path has no commits")
    val k = keys.select(col(keys.columns.head).cast("string").as("__pk")).distinct()
    val scan = scans.reduce(_.unionByName(_, allowMissingColumns = true))
    val restricted = scan.join(k, col("_record_key") === col("__pk"), "left_semi")
    lwwLatest(restricted).filter(!col("_deleted"))
      .select(orderedDataCols(scan.columns).map(col): _*)
  }

  /** Column-range read across partitions ([[MorTable.readForColRanges]]
    * over the partitioned layout — the z-order/colstats skipping read at
    * the 100 TB shape): every straggler-free child contributes its
    * colstats-SURVIVING base files (whole base when no stats cover a
    * queried column), pruned at the LISTING level from the per-child
    * manifests; the pushed base-only filter (`range || _deleted` — the
    * same tombstone exemption and LWW soundness argument as the
    * unpartitioned form, valid per child because its deltas always
    * outrank its base) applies to ONE union of those base scans; delta
    * dirs — plus the bases of straggler-carrying children, where
    * base-dropping would be unsound — scan whole and unfiltered; the
    * range re-applies post-merge so rows that moved out of range never
    * resurrect. Still O(1) scans in partition count. Meta-less bootstrap
    * children route through the synthesizing discovery scan (filtered
    * only when straggler-free). */
  def readForColRanges(ranges: Seq[(String, Double, Double)],
                       values: Seq[String] = Seq.empty): DataFrame = {
    require(ranges.nonEmpty, "readForColRanges needs at least one (col, lo, hi)")
    val sel = if (values.nonEmpty) values else partitions()
    require(sel.nonEmpty, s"PartitionedMorTable at $path has no partitions")
    val perChild = parChildren(sel)(c =>
      (c.colRangeScanParts(ranges), c.metalessBootstrapBase()))
    val filterableBase = perChild.flatMap(_._1._1)
    val rawDirs = perChild.flatMap(p => p._1._2 ++ p._1._3)
    val boots = sel.zip(perChild).collect { case (v, (_, Some(i))) => (v, i) }
    val (bootSafe, bootUnsafe) = boots.partition(_._2.unfolded.isEmpty)
    def rangeFOf(df: DataFrame) = ranges.map { case (c, lo, hi) =>
      val t = df.schema(c).dataType
      col(c) >= lit(lo).cast(t) && col(c) < lit(hi).cast(t)
    }.reduce(_ && _)
    // tombstones are exempt from the pushed base filter (null range cols
    // would drop them); the reader's _deleted filter decides their fate
    val baseScans =
      ((if (filterableBase.nonEmpty) Seq(scanDirs(filterableBase)) else Nil) ++
        bootstrapScan(bootSafe).toSeq)
        .map(df => df.filter(rangeFOf(df) || col("_deleted")))
    val rawScans = (if (rawDirs.nonEmpty) Seq(scanDirs(rawDirs)) else Nil) ++
      bootstrapScan(bootUnsafe).toSeq
    val scans = baseScans ++ rawScans
    require(scans.nonEmpty, s"PartitionedMorTable at $path has no commits")
    val scan = scans.reduce(_.unionByName(_, allowMissingColumns = true))
    lwwLatest(scan).filter(!col("_deleted")).filter(rangeFOf(scan))
      .select(orderedDataCols(scan.columns).map(col): _*)
  }

  /** Secondary-index equality read across partitions ([[MorTable
    * .readForColEquals]] at the 100 TB layout — the s51 pruning over the
    * s78 scan shape): every straggler-free child contributes its
    * secondary-bloom-SURVIVING base files (whole base when the column is
    * unindexed in that child), pruned at the LISTING level from the
    * per-child manifests, into ONE union scan with the pushed
    * `eq || _deleted` base-only filter (sound per child — its deltas
    * always outrank its base; tombstones exempt, their data columns are
    * null); delta dirs and straggler children's bases scan whole and
    * unfiltered; the predicate re-applies post-merge so values that
    * moved OUT of the probe set never resurrect. O(1) scans in partition
    * count. Meta-less bootstrap children route through the synthesizing
    * scan (filtered only when straggler-free). */
  def readForColEquals(c: String, values: Seq[Any],
                       partitionValues: Seq[String] = Seq.empty): DataFrame = {
    require(values.nonEmpty, "readForColEquals needs at least one probe value")
    val sel = if (partitionValues.nonEmpty) partitionValues else partitions()
    require(sel.nonEmpty, s"PartitionedMorTable at $path has no partitions")
    val perChild = parChildren(sel)(ch =>
      (ch.colEqualScanParts(c, values), ch.metalessBootstrapBase()))
    val filterableBase = perChild.flatMap(_._1._1)
    val rawDirs = perChild.flatMap(p => p._1._2 ++ p._1._3)
    val boots = sel.zip(perChild).collect { case (v, (_, Some(i))) => (v, i) }
    val (bootSafe, bootUnsafe) = boots.partition(_._2.unfolded.isEmpty)
    val eqF = col(c).isin(values: _*)
    val baseScans =
      ((if (filterableBase.nonEmpty) Seq(scanDirs(filterableBase)) else Nil) ++
        bootstrapScan(bootSafe).toSeq)
        .map(_.filter(eqF || col("_deleted")))
    val rawScans = (if (rawDirs.nonEmpty) Seq(scanDirs(rawDirs)) else Nil) ++
      bootstrapScan(bootUnsafe).toSeq
    val scans = baseScans ++ rawScans
    require(scans.nonEmpty, s"PartitionedMorTable at $path has no commits")
    val scan = scans.reduce(_.unionByName(_, allowMissingColumns = true))
    lwwLatest(scan).filter(!col("_deleted")).filter(eqF)
      .select(orderedDataCols(scan.columns).map(col): _*)
  }

  /** Size-dispatching point read ([[MorTable.readForKeyBatch]] in the
    * partitioned layout): [[readForKeys]]' listing-level file pruning for
    * batches below the collect cap, [[readForKeysOf]]'s scan-and-join
    * above it — the key-pruned merge-target read of the SQL MERGE path. */
  private[graft] def readForKeyBatch(batchKeys: DataFrame,
                                     values: Seq[String] = Seq.empty): DataFrame = {
    val k = batchKeys
      .select(col(batchKeys.columns.head).cast("string").as("__pk")).distinct()
    val head = k.limit(MorTable.mergeKeyCollectCap + 1).collect()
    if (head.length <= MorTable.mergeKeyCollectCap)
      readForKeys(head.map(_.getString(0)).toSeq, values)
    else readForKeysOf(k, values)
  }

  /** Additive schema evolution across partitions: every existing child
    * publishes the empty widened-schema commit ([[MorTable.addColumns]]);
    * partitions born later inherit the wider schema from their first
    * ingested batch. O(partitions) metadata commits, no data rewrite. */
  def addColumns(newCols: Seq[org.apache.spark.sql.types.StructField]): PartitionedMorTable = {
    val parts = partitions()
    require(parts.nonEmpty, s"PartitionedMorTable at $path has no partitions")
    parChildren(parts)(_.addColumns(newCols))
    this
  }

  /** Time-travel read — the table as of parent token `token`, inclusive
    * (the partitioned `as.of.instant` form [[MorTable.readAt]] covers for
    * unpartitioned tables). Child TIMELINE seqs are child-local, but every
    * row's `_commit_seqno` carries the table-global parent token, so the
    * pinned state is a row-level replay: scan all delta dirs, keep rows
    * with `_commit_seqno <= token`, LWW per (partition, key), drop
    * tombstones. Parquet min/max stats on `_commit_seqno` skip whole
    * delta files above the token (each staged delta carries ONE token),
    * so the scan cost is O(history at or before token), the same contract
    * as the unpartitioned form — compaction keeps old delta files, so
    * past snapshots stay readable until `clean()`; tokens below the last
    * clean are unavailable, and a partition DROPPED by [[dropPartitions]]
    * is physically gone (drops and cleaning bound time travel, as in
    * Hudi). A partition born after the token contributes nothing. */
  def readAt(token: Long, values: Seq[String] = Seq.empty): DataFrame = {
    require(parentTimeline().exists(_.seq <= token),
      s"no parent commit at or before token $token on $path")
    val sel = if (values.nonEmpty) values else partitions()
    require(sel.nonEmpty, s"PartitionedMorTable at $path has no partitions")
    // clone-adopted bases carry the raw pre-clone seqnos and bootstrap
    // bases synthesize theirs — no delta dir holds those rows, so travel
    // replays both alongside the deltas (cloneBaseDirs /
    // metalessBootstrapInstants are empty on every other table)
    val perChild = parChildren(sel)(c =>
      (c.allDeltaDirs() ++ c.cloneBaseDirs(), c.metalessBootstrapInstants()))
    val dirs = perChild.flatMap(_._1)
    val boots = sel.zip(perChild).flatMap { case (v, (_, is)) => is.map((v, _)) }
    val scans = (if (dirs.nonEmpty) Seq(scanDirs(dirs)) else Nil) ++
      bootstrapScan(boots).toSeq
    require(scans.nonEmpty, s"PartitionedMorTable at $path has no delta commits")
    val scan = scans.reduce(_.unionByName(_, allowMissingColumns = true))
      .filter(col("_commit_seqno") <= token)
    lwwLatest(scan).filter(!col("_deleted"))
      .select(orderedDataCols(scan.columns).map(col): _*)
  }

  /** Incremental pull across partitions (the Hudi incremental-query analog
    * of [[MorTable.readIncremental]], in the parent's table-global token
    * space): the net effect of every row committed with
    * `_commit_seqno > sinceToken` — latest image per (partition, key),
    * tombstones included. Child timeline seqs are child-local, so the
    * filter is row-level on `_commit_seqno`; parquet row-group min/max
    * stats on that column skip untouched delta files. Like the
    * unpartitioned form, tokens below the last `clean()` are unavailable. */
  def readIncremental(sinceToken: Long, values: Seq[String] = Seq.empty): DataFrame = {
    val sel = if (values.nonEmpty) values else partitions()
    require(sel.nonEmpty, s"PartitionedMorTable at $path has no partitions")
    val dirs = parChildren(sel)(_.allDeltaDirs()).flatten
    require(dirs.nonEmpty, s"PartitionedMorTable at $path has no delta commits")
    lwwLatest(scanDirs(dirs).filter(col("_commit_seqno") > sinceToken))
  }

  /** Live on-disk bytes across partitions ([[MorTable.liveBytes]]). */
  def liveBytes(): Long = parChildren(partitions())(_.liveBytes()).sum

  /** Planner row-count statistic across partitions
    * ([[MorTable.liveRowCount]]); None as soon as any child cannot answer
    * with bounded driver work. */
  def liveRowCount(): Option[Long] = {
    val counts = parChildren(partitions())(_.liveRowCount())
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** EXACT snapshot count, metadata-only ([[MorTable.exactLiveRowCount]]
    * summed across the named children — all when `values` is empty): Some
    * only when EVERY selected child sits at a clean manifest-covered
    * boundary. One header field per child, zero jobs. */
  def exactLiveRowCount(values: Seq[String] = Seq.empty): Option[Long] = {
    val present = partitions()
    // a value with NO child dir holds no rows by construction: it
    // contributes an exact 0, it does not fail the metadata answer
    val sel = if (values.nonEmpty) values.distinct.filter(present.contains)
              else present
    if (sel.isEmpty) return if (values.nonEmpty) Some(0L) else None
    val counts = parChildren(sel)(_.exactLiveRowCount())
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** True when some partition holds at least one delta commit dir — the
    * precondition of [[readChangelog]]/[[readIncremental]]. Lets a
    * streaming consumer distinguish "legitimately nothing to change-read"
    * (fresh or fully-compacted-and-cleaned table) from a genuine read
    * failure, instead of blanket-catching the reads' requires. */
  def hasDeltaCommits: Boolean = {
    val sel = partitions()
    sel.nonEmpty && parChildren(sel)(_.allDeltaDirs()).exists(_.nonEmpty)
  }

  /** CDC read across partitions ([[MorTable.readChangelog]] in the
    * parent's table-global token space): net I/U/D per (partition, key)
    * for tokens in (fromToken, toToken], with `before_<col>` images from
    * the state as of `fromToken`. Same shape as the unpartitioned form —
    * one window over the range's rows, before-state LWW semi-joined to
    * touched keys — with partition pruning via `values`. Before-images
    * predating the last `clean()` are unavailable (same contract as time
    * travel). */
  def readChangelog(fromToken: Long, toToken: Long = Long.MaxValue,
                    values: Seq[String] = Seq.empty): DataFrame = {
    val sel = if (values.nonEmpty) values else partitions()
    require(sel.nonEmpty, s"PartitionedMorTable at $path has no partitions")
    val dirs = parChildren(sel)(_.allDeltaDirs()).flatten
    require(dirs.nonEmpty, s"PartitionedMorTable at $path has no delta commits")
    val deltas = scanDirs(dirs)
    def lww(df: DataFrame) = lwwLatest(df)
    val net = lww(deltas.filter(col("_commit_seqno") > fromToken &&
      col("_commit_seqno") <= toToken))
    // column list from the deltas scan already in hand — building a read()
    // plan just to enumerate names would cost a second round of child-
    // timeline listings per CDC read (and could even name base-only columns
    // this delta-derived output cannot produce)
    val dataCols = orderedDataCols(deltas.columns)
    val touched = net.select(col(partCol).as("__p"),
      col("_record_key").as("__k")).distinct()
    val before = lww(deltas.filter(col("_commit_seqno") <= fromToken))
      .filter(!col("_deleted"))
      .join(touched, col(partCol) === col("__p") &&
        col("_record_key") === col("__k"), "left_semi")
    val bCols = Seq(col(partCol).as("__bp"), col("_record_key").as("__bk"),
      lit(true).as("_before_present")) ++
      dataCols.map(c => col(c).as(s"before_$c"))
    val joined = net.join(before.select(bCols: _*),
      col(partCol) === col("__bp") && col("_record_key") === col("__bk"),
      "left_outer")
      .withColumn("_before_present", coalesce(col("_before_present"), lit(false)))
      .withColumn("op",
        when(col("_deleted"),
          when(col("_before_present"), lit("D")).otherwise(lit(null)))
          .otherwise(when(col("_before_present"), lit("U")).otherwise(lit("I"))))
      .filter(col("op").isNotNull)
    joined.select(col("op") +: (dataCols.map(col) ++
      dataCols.map(c => col(s"before_$c"))): _*)
  }

  /** Trigger the num_or_time compaction check on every partition; only
    * children whose own timeline is due actually compact — and all due
    * partitions compact in ONE cluster job (union of their snapshot merges,
    * staged `partitionBy` write, then one metadata-only base adoption per
    * partition). Returns the partition values that compacted. */
  def maybeCompact(nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val all = partitions()
    // the due-check is one timeline listing per child — issue them
    // concurrently (same reasoning as the read paths: at 1000 partitions a
    // sequential loop per commit makes the driver the bottleneck)
    val due = all.zip(parChildren(all)(_.compactionDue(nowMs)))
      .collect { case (v, true) => v }
    compactPartitions(due)
    due
  }

  /** Compact the named partitions in one staged cluster write. A live
    * PARENT claim forces tombstone retention in every staged child (its
    * data may publish into the children with tokens below a folded delete
    * — see [[MorTable.prepareCompact]]); a parent writer stages child data
    * before any child-level marker exists, so the child listing alone
    * cannot see it. An orphaned claim (past the lease) does not. */
  def compactPartitions(values: Seq[String]): Unit = {
    if (values.isEmpty) return
    val keepTombstones = parentLog.liveMarkers().nonEmpty
    // MINOR planning per due child (see MorTable.compactMinor): children
    // with manifest key bounds merge only the base files their deltas
    // touch; the rest carry byte-for-byte into the adopted dir below. The
    // staged write is still ONE batched job across every due partition —
    // write amplification per tick drops to O(touched key ranges) even in
    // the partitioned 100 TB layout. Planning is one delta-sized job per
    // due child.
    // per-child planning jobs are independent and tiny — overlap them
    // (perChildInParallel) instead of paying one full driver round-trip
    // per child in sequence
    val plans = perChildInParallel(values)(v => v -> child(v).minorPlan()).toMap
    val preps = values.map { v =>
      v -> child(v).prepareCompact(forceKeepTombstones = keepTombstones,
        baseFiles = plans(v).map(_.affected),
        onlyDeltas = plans(v).map(_.plannedDeltaSeqs))
    }.toMap
    val snaps = preps.toSeq.sortBy(_._1).map { case (v, prep) =>
      prep.df.withColumn("__p", lit(v))
    }
    val stagingDir = new Path(hPath, s".staging/compact-${System.nanoTime()}")
    // RANGE-partition on (__p, _record_key) — same rationale as
    // MorTable.compact: each output file then owns a disjoint key range
    // WITHIN its partition, so the per-file bounds in the child manifests
    // actually exclude files (key-range reads skip at the listing level,
    // and the NEXT compaction's minor plan finds carriable files). Under
    // hash placement every file spans the whole key domain and both
    // optimizations are dead. sortWithinPartitions(__p, _record_key)
    // satisfies the dynamic-partition writer's required ordering
    // (partition col prefix), so no re-sort — and keeps the key
    // clustering for parquet row-group min/max skipping.
    val unioned = snaps.reduce(_.unionByName(_, allowMissingColumns = true))
    (if (writePartitions > 0)
      unioned.repartitionByRange(writePartitions, col("__p"), col("_record_key"))
    else unioned.repartitionByRange(col("__p"), col("_record_key")))
      .sortWithinPartitions(col("__p"), col("_record_key"))
      .write.partitionBy("__p").mode("overwrite")
      // bloom filter on the key column (see MorTable.compact): point reads
      // skip row groups whose min/max straddles the probe key
      .option("parquet.bloom.filter.enabled#_record_key", "true")
      .parquet(stagingDir.toString)
    // per-child adoption = carried-file copies + rename + manifest STATS
    // PASS (a real Spark query per child): independent across children —
    // overlapped, the N per-child manifest queries cost ~one round-trip
    // of wall instead of N (measured s13: 5 × ~350 ms sequential)
    val written: Set[String] =
      if (!fs.exists(stagingDir)) Set.empty
      else perChildInParallel(fs.listStatus(stagingDir).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("__p="))) { p =>
          val value = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(p.getName.stripPrefix("__p="))
          // minor path: the untouched base files join the staged dir
          // byte-for-byte before adoption
          plans(value).foreach(plan => child(value).copyCarried(plan.carried, p))
          child(value).adoptBase(p, preps(value).foldedDeltaSeqs,
            Some(org.apache.spark.sql.types.StructType(
              preps(value).df.schema.filterNot(_.name == "__p").toArray)))
          value
        }.toSet
    // a fully-tombstoned partition stages nothing (its snapshot is empty);
    // compact it child-side so the base keeps a readable parquet schema and
    // its trigger stops firing — rare, and empty, so the extra job is tiny
    values.filterNot(written).foreach(child(_).compact())
    if (fs.exists(stagingDir)) fs.delete(stagingDir, true)
    writeParentManifest()
    ()
  }

  /** Table-level external snapshot manifest + catalog entry — the
    * partitioned analog of [[MorTable.writeManifest]] and the missing
    * metadata plane (the reference's Glue registration,
    * `lib/rds-cdc-flink-hudi-stack.ts:458-519`): after each parent
    * compaction, `manifest/<token>.json` lists the latest base parquet
    * files of EVERY partition in one consistent — compaction-stale —
    * snapshot, and `manifest/catalog.json` records name / path / key
    * columns / partition column / data schema so an external engine
    * discovers the table without reading graft code. Children that have
    * never compacted are omitted (their data is not yet base-file
    * visible); deltas newer than a child's base are likewise invisible —
    * identical staleness contract to the child manifest. Best-effort: a
    * manifest failure never fails the compaction (the timelines stay the
    * source of truth). */
  private def writeParentManifest(): Unit =
    try {
      // meta-less bootstrap children are omitted (their external files
      // lack the lake columns the manifest's `filter` references) — they
      // join the manifest at their first compaction, the same staleness
      // contract as never-compacted children
      val infos = parChildren(partitions())(c =>
        (if (c.metalessBootstrapBase().isDefined) None
         else c.liveScanDirs()._1, c.latestManifestInfo()))
      val bases = infos.flatMap(_._1)
      if (bases.isEmpty) return
      val token = parentTimeline().lastOption.map(_.seq).getOrElse(0L)
      val dir = new Path(hPath, "manifest")
      fs.mkdirs(dir)
      val dst = new Path(dir, s"$token.json")
      if (!fs.exists(dst)) { // manifests are immutable; same token → same bases
        // SHARDED parent listing (the child-manifest regime split, parent
        // form): when every compacted child carries a sharded manifest and
        // the total file count is past the driver threshold, the parent
        // listing is ONE cluster-side union of the children's stats
        // relations' `file` columns written as parquet — 10⁶ file paths
        // never assemble into a driver-side string. Small tables keep the
        // inline `files` array (bounded, zero extra jobs — DROP PARTITION
        // stays metadata-only at gate scale).
        val statsInfos = infos.flatMap(_._2)
        val totalFiles = statsInfos.map(_._3.toLong).sum
        val json =
          if (statsInfos.size == bases.size &&
              totalFiles > MorTable.smallManifestFiles) {
            val filesDir = new Path(dir, s"files/$token")
            statsInfos.map { case (_, sdir, _) =>
              spark.read.parquet(MorTable.globSafe(sdir)).select("file") }
              .reduce(_.unionByName(_))
              .coalesce(math.max(1, (totalFiles / 65536L).toInt))
              .write.mode("overwrite").parquet(filesDir.toString)
            s"""{"token":$token,"filter":"_deleted = false","fileCount":$totalFiles,""" +
              s""""filesDir":"files/$token"}"""
          } else {
            val files = bases.flatMap { d =>
              fs.listStatus(new Path(d)).toSeq.map(_.getPath)
                .filter(_.getName.endsWith(".parquet")).map(_.toString)
            }.sorted
            s"""{"token":$token,"filter":"_deleted = false",""" +
              s""""files":[${files.map("\"" + MorTable.jsEscape(_) + "\"").mkString(",")}]}"""
          }
        val tmp = new Path(dir, s".$token.json.tmp")
        val out = fs.create(tmp, true)
        try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"parent manifest rename failed: $dst")
      }
      // catalog: schema from the base scan (footers only, no jobs); meta
      // columns dropped — external readers apply the declared filter first
      val schema = org.apache.spark.sql.types.StructType(
        scanDirs(bases).schema.filterNot(f => CommitRows.metaCols.contains(f.name)))
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      // declared compaction/write policy travels with the catalog entry so
      // an external catalog sync sees the full table definition (kept
      // BEFORE "schema" — readCatalog slices the schema as the tail field)
      val pol = MorTable.readPolicy(spark, path)
        .map(p => s""""policy":${p.toJson},""").getOrElse("")
      val cat = s"""{"name":${q(hPath.getName)},"path":${q(path)},""" +
        s""""keyCols":[${keyCols.map(q).mkString(",")}],""" +
        s""""partitionCol":${q(partCol)},$pol"schema":${schema.json}}"""
      val ctmp = new Path(dir, ".catalog.json.tmp")
      val cout = fs.create(ctmp, true)
      try cout.write(cat.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally cout.close()
      fs.delete(new Path(dir, "catalog.json"), false)
      if (!fs.rename(ctmp, new Path(dir, "catalog.json")))
        throw new java.io.IOException(s"catalog rename failed under $dir")
      ()
    } catch {
      case e: java.io.IOException =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"parent manifest write failed for $path", e)
    }

  /** DROP PARTITION (the `ALTER TABLE … DROP PARTITION` / Hudi
    * delete-partition / lake retention surface): delete the named
    * partitions' child tables outright — storage AND metadata, one
    * partition-dir delete each, zero data jobs. The drop is recorded as a
    * parent `drop` instant (a new token), and the external manifest +
    * catalog regenerate under that token so cross-engine readers stop
    * seeing the dropped files. OUTSIDE the changelog by design, exactly
    * like Hudi's delete_partition: incremental/CDC consumers observe the
    * partition vanish from snapshots, not row-level D events — emitting
    * tombstones for a TTL'd billion-row partition would turn a metadata
    * operation into an O(partition) scan. Returns the values dropped. */
  def dropPartitions(values: Seq[String]): Seq[String] = {
    val present = partitions().toSet
    val victims = values.filter(present).sorted
    if (victims.isEmpty) return victims
    // DESTRUCTIVE: deletes data dirs an uncoordinated writer may be
    // publishing into. Serialize under the table lock (lock-taking
    // writers wait; reentrant for callers already holding it) and refuse
    // loudly when a writer is provably mid-publish — a FRESH inflight
    // marker at parent level or inside a victim child (stale markers are
    // crash orphans and must not wedge the TTL service).
    MorTable.withTableLock(spark, path) {
      val busy = parentLog.liveMarkers() ++
        victims.zip(parChildren(victims)(_.commitLog.liveMarkers()))
          .flatMap { case (v, ms) => ms.map(m => s"p=$v/$m") }
      require(busy.isEmpty,
        s"dropPartitions: writer(s) mid-publish on $path (${busy.mkString(", ")}) — " +
          "quiesce writers first")
      victims.foreach { v =>
        fs.delete(new Path(hPath, s"p=$v"), true)
        childHandles.remove(v)
        MorTable.purgeCaches(MorTable.canonPath(new Path(hPath, s"p=$v").toString))
      }
      parentLog.commit("drop") { token =>
        (MorTable.Instant(token, "drop", -1L, System.currentTimeMillis()), ())
      }
      writeParentManifest()
      victims
    }
  }

  /** Retention/TTL sweep: drop every partition whose value satisfies
    * `doomed` (e.g. a date-partitioned table dropping values below the
    * retention horizon). */
  def dropPartitionsWhere(doomed: String => Boolean): Seq[String] =
    dropPartitions(partitions().filter(doomed))

  // ------------------------------------------------------------ savepoints

  /** Parent-level SAVEPOINT — the partitioned form of the Hudi savepoint
    * service (the unpartitioned contract is [[MorTable.savepoint]]): pins
    * the current parent token AND a same-named savepoint in EVERY child,
    * so each child's `clean()` preserves its pinned snapshot and
    * [[restore]] can roll the whole table — children, late-born
    * partitions, parent timeline, external manifest — back to this point.
    * Exclusive create; a crash between the child pins and the parent file
    * leaves only releasable extra pins, never a half-restorable state. */
  def savepoint(name: String): Long = {
    require(name.nonEmpty &&
      !name.exists(c => c == '/' || c == '.' || c == '"' || c == '\\'),
      s"savepoint name must be a plain token: '$name'")
    val tl = parentTimeline()
    require(tl.nonEmpty, "cannot savepoint an empty table")
    val token = tl.last.seq
    val parts = partitions()
    val dir = new Path(hPath, "_savepoint")
    fs.mkdirs(dir)
    val p = new Path(dir, s"$name.json")
    if (fs.exists(p))
      throw new IllegalArgumentException(s"savepoint '$name' already exists")
    parts.foreach(v => child(v).savepoint(name))
    val out = fs.create(p, false)
    // partition values are ARBITRARY strings: escape them with the one
    // shared metadata escaper (a raw '"' / '\' / ']' in a value would
    // otherwise corrupt the file or truncate restore()'s parse — and a
    // truncated saved set makes restore DELETE pinned partitions)
    try out.write(
      s"""{"name":"$name","token":$token,"partitions":[${
        parts.map(v => "\"" + MorTable.jsEscape(v) + "\"").mkString(",")}]}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    token
  }

  /** Zero-copy BOOTSTRAP, partitioned form ([[MorTable.bootstrap]]
    * completed across partitions — the Hudi METADATA_ONLY bootstrap over
    * a Hive-partitioned layout, the normal shape of a 100 TB onboarding:
    * `<sourceDir>/<partCol>=<v>/ *.parquet`): adopt every source
    * partition directory as the matching child's external base — one
    * instant file per child plus one parent instant, zero data jobs,
    * zero bytes copied; the source layout is exactly what
    * `df.write.partitionBy(partCol).parquet(dir)` produces (values
    * Hive-escaped in dir names, the column absent from the files).
    *
    * Reads: the raw multi-dir scan cannot serve meta-less files, so
    * every read path unions ONE partition-discovery scan over the still-
    * bootstrapped children's source dirs (`basePath` = the source root,
    * so `partCol` reconstructs; pruning = listing only the selected
    * children) with the lake meta columns synthesized — `_record_key`
    * from the keys, every row live, the whole bootstrap the parent
    * token. Deltas then layer per child exactly as on managed bases
    * (tokens > the bootstrap token outrank adopted rows), per-child
    * compaction folds each child managed independently — O(churned
    * partitions), cold history never rewritten — and a fully-compacted
    * table no longer references the source at all. Like the
    * unpartitioned form: the source is NEVER written or deleted
    * (child clean/rollback only remove managed dirs; [[dropPartitions]]
    * deletes only the child metadata dir), incremental/changelog reads
    * start ABOVE the bootstrap (onboard consumers snapshot at the
    * boundary), key-uniqueness of the source within each partition is
    * the caller's contract, and until a child's first compaction that
    * child has no manifest (no file-level pruning, no `_record_key`
    * pushdown; data-column predicates still push into the external
    * scan). Refuses loudly on a non-empty table, a missing/empty source
    * partition dir, a Hive default (null) partition dir, key columns
    * absent, or files carrying `partCol`/lake meta names.
    * Idempotent for crash retries (children skip an already-adopted
    * source dir; a completed bootstrap of the same source no-ops). */
  def bootstrap(sourceDir: String, batchId: Long = -1L): PartitionedMorTable = {
    val l = parentLog.listing()
    if (parentLog.isCommitted(l, batchId)) return this
    val ptl = l.instants
    if (ptl.headOption.exists(i => i.bootstrapDir.contains(sourceDir) &&
        !i.bootstrapMeta)) return this // completed bootstrap retry: no-op
    require(ptl.isEmpty,
      s"bootstrap requires an empty table, but $path has commits")
    val src = new Path(sourceDir)
    require(fs.exists(src), s"bootstrap source $sourceDir does not exist")
    val prefix = s"$partCol="
    val hiveDirs = fs.listStatus(src).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).sorted
    require(hiveDirs.nonEmpty,
      s"bootstrap source $sourceDir has no $prefix<value> partition " +
        "directories (standard Hive layout required)")
    require(!hiveDirs.contains(prefix + "__HIVE_DEFAULT_PARTITION__"),
      s"bootstrap source $sourceDir carries a null-partition dir — " +
        "null partition values cannot be synthesized as typed literals")
    val parts = hiveDirs.map { n =>
      val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(n.stripPrefix(prefix))
      (raw, s"$sourceDir/$n")
    }
    parts.foreach { case (v, d) =>
      require(fs.listStatus(new Path(d)).exists { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }, s"bootstrap source partition $d holds no data files")
    }
    // ONE discovery scan over the root: schema checks + the partition
    // column's inferred type (footers only, no job)
    val disc = spark.read.option("basePath", sourceDir)
      .option("mergeSchema", "true")
      .parquet(MorTable.globSafe(parts.map(_._2)): _*)
    CommitRows.requireSource(disc.schema.fieldNames.toSeq, keyCols, sourceDir)
    // the value must live ONLY in the dir name: a data-side copy would
    // make the discovery scan ambiguous and the synthesis double-bind it
    val fileSchema = spark.read.parquet(MorTable.globSafe(parts.head._2)).schema
    require(!fileSchema.fieldNames.contains(partCol),
      s"bootstrap source files carry '$partCol' as a data column — " +
        "Hive layout keeps partition values in directory names only")
    val ptype = disc.schema(partCol).dataType.catalogString
    // empty parent + empty children ⇒ the parent bootstrap token and
    // every child's bootstrap seq are all 1; adoptBootstrapBase asserts
    // the coincidence so both seqno-synthesis sites provably agree
    val token = 1L
    parts.foreach { case (v, d) =>
      child(v).adoptBootstrapBase(d, partCol, v, ptype, expectSeq = token)
    }
    parentLog.publish(MorTable.Instant(token, "compact", batchId,
      System.currentTimeMillis(), bootstrapDir = Some(sourceDir)))
    this
  }

  /** The synthesizing scan over the named still-bootstrapped children —
    * the one extra scan every read path unions with the raw multi-dir
    * scan (plan size stays O(1) in partition count). `boots` pairs each
    * child's partition value with its meta-less bootstrap instant. */
  private def bootstrapScan(boots: Seq[(String, MorTable.Instant)]): Option[DataFrame] = {
    if (boots.isEmpty) return None
    val parent = parentTimeline().headOption
      .filter(i => i.bootstrapDir.isDefined && !i.bootstrapMeta)
      .getOrElse(throw new IllegalStateException(
        s"child bootstrap base without a parent bootstrap instant on $path"))
    val scan = spark.read.option("basePath", parent.bootstrapDir.get)
      .option("mergeSchema", "true")
      .parquet(MorTable.globSafe(boots.map(_._2.bootstrapDir.get)): _*)
    Some(CommitRows.stamp(CommitRows.withMeta(scan, keyCols, deleted = false),
      parent.seq, parent.commitMs))
  }

  /** Shallow CLONE, partitioned form ([[MorTable.cloneTo]] semantics
    * completed across partitions): a new independent partitioned table
    * at `dstPath` whose children reference THIS table's compacted child
    * bases in place — one child instant per partition plus one parent
    * instant, zero bytes copied.
    *
    * The seqno story differs from the unpartitioned clone (whose adopted
    * rows are REBASED): partitioned reads are ONE raw multi-dir scan
    * across children, so per-row rebasing is impossible without a data
    * rewrite. Instead the clone CONTINUES the source's token space: its
    * first parent instant is published at the source's pinned token `S`,
    * so every adopted row (stamped ≤ S by the source's staged writes)
    * ranks below every post-clone write (tokens > S) in the LWW merge,
    * raw and untouched — and `readAt(S)` on the clone is exactly the
    * cloned state. Every child must sit at a clean compaction boundary
    * (managed, fully folded, no live deltas); the referenced bases are
    * pinned against source-side cleans with the parent savepoint
    * `clone_<dstName>` (releasable; same naming contract as the
    * unpartitioned form). Refuses on mid-publish writers and on a commit
    * racing in between the boundary checks and the pin. */
  def cloneTo(dstPath: String): PartitionedMorTable = {
    val parts = partitions()
    require(parts.nonEmpty, s"cloneTo: $path has no partitions")
    val busy = parentLog.liveMarkers()
    require(busy.isEmpty,
      s"cloneTo: writer(s) mid-publish on $path (${busy.mkString(", ")}) — " +
        "quiesce writers first")
    val tokenBefore = parentTimeline().lastOption.map(_.seq).getOrElse(0L)
    require(tokenBefore > 0, s"cloneTo: $path has no parent commits")
    // every child at a clean boundary BEFORE anything is pinned
    val bases = parts.map(v => v -> child(v).cloneBoundaryBase())
    // clone AT the partitioned-bootstrap boundary: when EVERY child still
    // serves its external Hive dir, the clone is an independent bootstrap
    // of the same user-owned root — zero-copy, no pin (source-side
    // housekeeping never touches external dirs). Mixed states (some
    // children compacted managed, some still external) are refused: one
    // parent instant cannot be both a token continuation and a bootstrap.
    val bootChildren = bases.filter { case (_, c) =>
      c.bootstrapDir.isDefined && !c.bootstrapMeta }
    if (bootChildren.nonEmpty) {
      require(bootChildren.size == bases.size,
        s"cloneTo: $path mixes still-bootstrapped children " +
          s"(${bootChildren.map(_._1).mkString(", ")}) with managed ones — " +
          "compact the bootstrapped children first")
      val root = parentTimeline().headOption
        .filter(i => i.bootstrapDir.isDefined && !i.bootstrapMeta)
        .flatMap(_.bootstrapDir)
        .getOrElse(throw new IllegalStateException(
          s"cloneTo: bootstrap children without a parent bootstrap instant on $path"))
      // a dropPartitions on the source leaves its dirs in the user root —
      // a clone (a fresh adoption of the WHOLE root) would resurrect
      // them; refuse the surprise rather than silently diverging
      val prefix = s"$partCol="
      val rootParts = fs.listStatus(new Path(root)).toSeq
        .map(_.getPath.getName).filter(_.startsWith(prefix))
        .map(n => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(n.stripPrefix(prefix))).toSet
      require(rootParts == parts.toSet,
        s"cloneTo: the bootstrap root $root carries partition dirs the " +
          s"source no longer serves (source: ${parts.mkString(", ")}; " +
          s"root: ${rootParts.toSeq.sorted.mkString(", ")}) — clone from " +
          "a fresh root or compact the source first")
      val dst = new PartitionedMorTable(spark, dstPath, keyCols, partCol,
        compactionDeltaCommits, compactionDeltaSeconds, autoCompact,
        writePartitions)
      require(dst.parentTimeline().isEmpty,
        s"clone destination $dstPath already has commits")
      dst.bootstrap(root)
      return dst
    }
    val pin = s"clone_${new Path(dstPath).getName.replaceAll("[^A-Za-z0-9-]", "_")}"
    // found-vs-created matters: a pre-existing pin may protect an EARLIER
    // live clone of this dst name — a failed retry must never release it
    val preExisting = savepoints().get(pin)
    val pinned = preExisting.getOrElse(savepoint(pin))
    if (pinned != tokenBefore) {
      if (preExisting.isEmpty) releaseSavepoint(pin)
      throw new IllegalStateException(
        if (preExisting.isDefined)
          s"cloneTo: savepoint '$pin' already pins token $pinned (an earlier " +
            s"clone of this dst name?) but the boundary is $tokenBefore — use " +
            "a distinct dst name or releaseSavepoint explicitly"
        else
          s"cloneTo: a writer committed on $path during the clone (pin landed " +
            s"on $pinned, boundary was $tokenBefore) — quiesce writers and retry")
    }
    val dst = new PartitionedMorTable(spark, dstPath, keyCols, partCol,
      compactionDeltaCommits, compactionDeltaSeconds, autoCompact,
      writePartitions)
    require(dst.parentTimeline().isEmpty,
      s"clone destination $dstPath already has commits")
    bases.foreach { case (v, c) =>
      val srcBaseDir = s"${child(v).path}/base/${c.seq}"
      // idempotent for retries: a crash between the child adoptions and
      // the parent instant leaves adopted children behind (parent timeline
      // still empty, reads fail loudly) — a retry must skip a child whose
      // SOLE instant already references exactly this source base, instead
      // of wedging on adoptClonedBase's already-has-commits refusal
      val tl = dst.child(v).timeline()
      val alreadyAdopted = tl.size == 1 && tl.head.kind == "compact" &&
        tl.head.bootstrapDir.contains(srcBaseDir)
      if (!alreadyAdopted) dst.child(v).adoptClonedBase(srcBaseDir)
    }
    // continue the SOURCE token space: first parent instant at the pinned
    // token, so future dst writers allocate PAST it and outrank every
    // adopted row
    dst.parentLog.publish(MorTable.Instant(pinned, "compact", -1L,
      System.currentTimeMillis()))
    dst.writeParentManifest()
    dst
  }

  /** Live parent savepoints: name → pinned parent token. */
  def savepoints(): Map[String, Long] = {
    val dir = new Path(hPath, "_savepoint")
    if (!fs.exists(dir)) return Map.empty
    fs.listStatus(dir).toSeq.map(_.getPath.getName).filter(_.endsWith(".json"))
      .flatMap { n =>
        val json = new String(MorTable.readFully(fs, new Path(dir, n)),
          java.nio.charset.StandardCharsets.UTF_8)
        "\"token\":(\\d+)".r.findFirstMatchIn(json)
          .map(m => n.stripSuffix(".json") -> m.group(1).toLong)
      }.toMap
  }

  /** Release a parent savepoint and its per-child pins. */
  def releaseSavepoint(name: String): Boolean = {
    partitions().foreach { v => child(v).releaseSavepoint(name); () }
    fs.delete(new Path(hPath, s"_savepoint/$name.json"), false)
  }

  /** Savepoint-TTL housekeeping, parent form ([[MorTable
    * .releaseSavepointsOlderThan]]): parent pins older than `ttlMs` (file
    * mtime) release, child pins included. `clone_*` pins are EXEMPT
    * unless `includeClonePins` — same data-loss rationale as the
    * unpartitioned form (the pin is a live clone's only protection from
    * source-side cleans). Returns the released names. */
  def releaseSavepointsOlderThan(ttlMs: Long,
                                 nowMs: Long = System.currentTimeMillis(),
                                 includeClonePins: Boolean = false): Seq[String] = {
    val dir = new Path(hPath, "_savepoint")
    if (ttlMs <= 0 || !fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(st => st.getPath.getName.endsWith(".json") &&
        (includeClonePins || !st.getPath.getName.startsWith("clone_")) &&
        nowMs - st.getModificationTime > ttlMs)
      .map(_.getPath.getName.stripSuffix(".json"))
      .filter(releaseSavepoint).sorted
  }

  /** Z-order clustering across partitions — the async-clustering service
    * verb (`compactZOrder` per child): children whose num_or_time trigger
    * is due (`dueOnly`, the service cadence) or ALL children (an explicit
    * `CALL`-style rewrite) re-cluster their base on `zCols`; the parent
    * external manifest regenerates once after. Per-child staged writes —
    * clustering rewrites each child's base anyway, and only churned
    * children pay (the per-partition independence that makes partitioned
    * clustering O(churn), not O(table)). Returns the clustered values. */
  def compactZOrderPartitions(zCols: Seq[String], bits: Int = 8,
                              dueOnly: Boolean = true,
                              nowMs: Long = System.currentTimeMillis(),
                              /** Restrict to these partition values
                                * (empty = all) — the `CALL run_compaction
                                * (partition => …)` narrowing. */
                              only: Seq[String] = Seq.empty): Seq[String] = {
    val all =
      if (only.isEmpty) partitions()
      else { val p = partitions(); only.filter(p.contains) }
    val due =
      if (dueOnly) all.zip(parChildren(all)(_.compactionDue(nowMs)))
        .collect { case (v, true) => v }
      else all
    due.foreach(v => child(v).compactZOrder(zCols, bits))
    if (due.nonEmpty) writeParentManifest()
    due
  }

  /** RESTORE to a parent savepoint: each pinned child rolls back to its
    * pin ([[MorTable.restore]] — physical rollback, above-pin savepoints
    * released), partitions born AFTER the pin are deleted outright, parent
    * instants above the pinned token are removed (their batch ids become
    * re-committable — the re-ingest-after-a-bad-deploy point of the
    * service), and the external manifest/catalog regenerate without the
    * rolled-back files. Returns #instants rolled back across the table.
    * Like Hudi's restore, this is a stop-the-world service: it runs under
    * the table lock (lock-taking writers serialize; reentrant for callers
    * already holding it) and REFUSES when a writer is provably
    * mid-publish — a fresh inflight marker at parent or child level —
    * since racing one could delete the data dir under its claimed commit
    * (markers older than a lease are crash orphans and do not wedge the
    * service). Uncoordinated writers that claim AFTER the check can still
    * publish a phantom bookkeeping instant; snapshots stay consistent,
    * incremental consumers must re-sync. */
  def restore(name: String): Int = MorTable.withTableLock(spark, path) {
    // same destructive-verb discipline as dropPartitions: serialize under
    // the table lock, refuse when a writer is provably mid-publish (fresh
    // parent or child inflight markers; stale = crash orphans, ignored)
    val busyParts = partitions()
    val busy = parentLog.liveMarkers() ++
      busyParts.zip(parChildren(busyParts)(_.commitLog.liveMarkers()))
        .flatMap { case (v, ms) => ms.map(m => s"p=$v/$m") }
    require(busy.isEmpty,
      s"restore: writer(s) mid-publish on $path (${busy.mkString(", ")}) — " +
        "quiesce writers first")
    val json = {
      val p = new Path(hPath, s"_savepoint/$name.json")
      if (!fs.exists(p))
        throw new IllegalArgumentException(s"no such savepoint: '$name'")
      new String(MorTable.readFully(fs, p), java.nio.charset.StandardCharsets.UTF_8)
    }
    val token = "\"token\":(\\d+)".r.findFirstMatchIn(json).get.group(1).toLong
    // the partitions array is the file's LAST field: slice between its
    // marker and the final ']' (an escaped value may itself contain ']'),
    // then parse with the escaped-string regex — the exact inverse of
    // savepoint()'s writer, so no value can shrink the saved set
    val marker = "\"partitions\":["
    val mi = json.indexOf(marker)
    require(mi >= 0 && json.lastIndexOf(']') > mi,
      s"savepoint file for '$name' is corrupt: $json")
    val saved = ("\"" + MorTable.jsEscapedRe + "\"").r.findAllMatchIn(
      json.substring(mi + marker.length, json.lastIndexOf(']')))
      .map(m => MorTable.jsUnescape(m.group(1))).toSet
    var rolled = 0
    partitions().foreach { v =>
      if (saved.contains(v)) rolled += child(v).restore(name)
      else {
        fs.delete(new Path(hPath, s"p=$v"), true)
        childHandles.remove(v)
        MorTable.purgeCaches(MorTable.canonPath(new Path(hPath, s"p=$v").toString))
        rolled += 1
      }
    }
    val doomed = parentTimeline().filter(_.seq > token)
    doomed.reverse.foreach(parentLog.delete)
    savepoints().collect { case (n, t) if t > token => n }
      .foreach(releaseSavepoint)
    writeParentManifest()
    rolled + doomed.size
  }

  /** Cleaner across all partitions (see MorTable.clean) + parent-timeline
    * archival. Returns #child data dirs removed. */
  def clean(): Int = {
    cleanParentTimeline()
    parChildren(partitions())(_.clean()).sum
  }

  /** Drop table (all partitions). */
  def drop(): Unit = {
    fs.delete(hPath, true)
    childHandles.clear()
    MorTable.purgeCaches(MorTable.canonPath(path))
  }

  // --------------------------------------- LakeTable: the partitioned form

  val partitionCol: Option[String] = Some(partCol)
  def commits(): Seq[MorTable.Instant] = parentTimeline()
  def children(): Seq[(String, MorTable)] = partitions().map(v => v -> child(v))
  override def mapChildren[A](f: MorTable => A): Seq[(String, A)] = {
    val parts = partitions()
    parts.zip(parChildren(parts)(f))
  }
  def exists(): Boolean = partitions().nonEmpty

  def applyChangelog(envelope: DataFrame, batchId: Long): PartitionedMorTable =
    applyChangelog(envelope, batchId, tiebreak = Nil)

  /** No cross-partition key bounds to prune by: the selected partitions,
    * restricted to the range. */
  def readForKeyRange(lo: String, hi: String,
                      values: Seq[String] = Seq.empty): DataFrame = {
    val recordKey = CommitRows.recordKey(keyCols.map(col))
    read(values).filter(recordKey >= lit(lo) && recordKey < lit(hi))
  }

  /** `full` and `minor` both run [[compactPartitions]] (per-child
    * minor-planned already); `values` narrows every mode but `due` to the
    * named children, loud on a miss. */
  def runCompaction(mode: String, zorderCols: Seq[String] = Nil,
                    values: Seq[String] = Seq.empty): (String, String) = {
    val parts =
      if (values.isEmpty) partitions()
      else {
        values.foreach(v => require(partitions().contains(v),
          s"no partition '$v' in ${partitions().sorted.mkString(", ")}"))
        values
      }
    mode.toLowerCase match {
      case "full" | "minor" =>
        compactPartitions(parts)
        ("compacted", s"${parts.size} partitions")
      case "zorder" =>
        require(zorderCols.nonEmpty, "zorder mode needs zorder_cols")
        val did = compactZOrderPartitions(zorderCols, dueOnly = false, only = parts)
        ("compacted", s"zorder(${zorderCols.mkString(",")}) on ${did.size} partitions")
      case "due" =>
        val did = maybeCompact()
        if (did.nonEmpty) ("compacted", did.mkString(",")) else ("skipped", "not due")
      case m => throw new IllegalArgumentException(
        s"mode '$m' is not supported on a partitioned table")
    }
  }

  def compactIfDue(zorderCols: Seq[String] = Nil): Boolean =
    if (zorderCols.isEmpty) maybeCompact().nonEmpty
    else compactZOrderPartitions(zorderCols).nonEmpty

  def plannerNdv(liveRows: => Option[Long]): Map[String, Long] = colNdv()
}

object PartitionedMorTable {
  /** Open `path` honoring its persisted — or newly `declared` — policy
    * (see [[MorTable.resolve]]; same `manifest/policy.json`, parent
    * level — children inherit through the parent's constructor args). */
  def resolve(spark: SparkSession, path: String, keyCols: Seq[String],
              partitionCol: String,
              declared: Option[MorTable.Policy] = None): PartitionedMorTable = {
    declared.foreach(MorTable.writePolicy(spark, path, _))
    val eff = declared.orElse(MorTable.readPolicy(spark, path))
      .getOrElse(MorTable.Policy())
    new PartitionedMorTable(spark, path, keyCols, partitionCol,
      eff.deltaCommits, eff.deltaSeconds, writePartitions = eff.writeTasks)
  }

  /** External-engine read of the table-level manifest: identical file
    * format to the child manifest, so the same "newest manifest →
    * `spark.read.parquet(files)` → declared filter → drop meta" recipe
    * applies ([[MorTable.readManifest]] is that recipe). */
  def readManifest(spark: SparkSession, path: String): DataFrame =
    MorTable.readManifest(spark, path)

  /** Parse `manifest/catalog.json` — what an external engine's catalog
    * sync reads: (name, path, key columns, partition column, data schema).
    * The schema round-trips through StructType JSON. */
  def readCatalog(spark: SparkSession, path: String):
      (String, String, Seq[String], String, org.apache.spark.sql.types.StructType) = {
    val p = new Path(path, "manifest/catalog.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val json = new String(MorTable.readFully(fs, p),
      java.nio.charset.StandardCharsets.UTF_8)
    def str(name: String): String = {
      val m = java.util.regex.Pattern.compile("\"" + name + "\":\"((?:[^\"\\\\]|\\\\.)*)\"")
        .matcher(json)
      if (!m.find()) throw new IllegalArgumentException(s"catalog.json missing $name")
      m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
    }
    val keys = {
      val m = java.util.regex.Pattern.compile("\"keyCols\":\\[([^\\]]*)\\]").matcher(json)
      if (!m.find()) throw new IllegalArgumentException("catalog.json missing keyCols")
      "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq
    }
    val schemaJson = json.substring(json.indexOf("\"schema\":") + "\"schema\":".length)
      .stripSuffix("}")
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    (str("name"), str("path"), keys, str("partitionCol"), schema)
  }
}
