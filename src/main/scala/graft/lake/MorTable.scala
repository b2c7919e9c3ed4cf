package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets

/** Merge-on-read keyed-upsert lake table — the engine-native analog of the
  * reference's Hudi MERGE_ON_READ sink (reference `CDC-Hudi-Notebook.zpln:292`
  * and `:2234`: keyed upsert, delta commits, num_or_time compaction,
  * snapshot read = base ⟕ uncompacted logs per `:421`).
  *
  * On-disk layout (all paths via Hadoop FileSystem):
  * {{{
  *   <path>/timeline/...                     commit instants and claims ([[Timeline]]:
  *                                           a commit is visible iff its
  *                                           instant exists; data lands first)
  *   <path>/delta/<seq>/part-…parquet        one delta commit (upserts + deletes)
  *   <path>/base/<seq>/part-…parquet         compacted snapshot as of <seq>
  * }}}
  *
  * Commit visibility and multi-writer OCC (and their filesystem
  * requirements) are [[Timeline]]'s.
  *
  * Every stored row carries the lake metadata columns (the `_hoodie_*` analog,
  * reference `lib/rds-cdc-flink-hudi-stack.ts:470-489`):
  * `_record_key` (string PK), `_commit_seqno` (long), `_commit_time` (string),
  * `_deleted` (boolean tombstone).
  *
  * Scale design (100 TB bar):
  *  - upsert/delete write through `spark.sql.shuffle.partitions`-sized hashed
  *    writes; nothing is ever `coalesce(1)`d or collected to the driver.
  *  - snapshot merge is ONE shuffle: union(base, deltas) → window by key —
  *    identical shape to Hudi's MOR realtime merge. Readers that follow a
  *    compaction touch only the base parquet (zero merge cost).
  *  - per-batch dedup is a partial-agg-friendly window over the batch only.
  *  - exactly-once: `batchId` recorded in the timeline; replayed micro-batches
  *    are no-ops (the reference gets this from Flink checkpoint barriers,
  *    zpln:89).
  */
final class MorTable(
    spark: SparkSession,
    val path: String,
    val keyCols: Seq[String],
    val compactionDeltaCommits: Int = 2,
    val compactionDeltaSeconds: Long = 120L,
    /** Pipelines that need read-before-batch recovery (exactly-once across
      * multiple tables) defer compaction until the whole batch is durable. */
    val autoCompact: Boolean = true,
    /** T5 — the `write.tasks`/`compaction.tasks` analog (zpln:2234:
      * write.tasks=3): >0 hashes each commit into this many files on
      * `_record_key`. 0 = keep the incoming partitioning. */
    val writePartitions: Int = 0,
    /** Per-base-file Bloom filter width in bits (power of two) — the Hudi
      * bloom-index sizing lever. Written into every manifest at compaction;
      * [[snapshotForKeys]] prunes base files whose filter proves none of
      * the requested keys present. Size to the per-file key count: 2^16
      * bits ≈ 1% fpp at 6.5k keys/file; fpp only costs extra scanned
      * files, never correctness.
      *
      * `0` declares a WRITE-OPTIMIZED table: no manifest/stats relation is
      * published at all — the right trade for pipeline STATE tables that
      * never serve point/range reads or external engines (each compaction
      * saves the stats pass + manifest write; pruned reads and minor
      * compaction fall back to their conservative full-scan paths). */
    val bloomBits: Int = 1 << 16,
    /** Size-targeted compaction (the Hudi max-file-size / small-file-
      * management analog, declarable as `target.file.mb`): when > 0 and
      * `writePartitions` is unset, compaction sizes its output file count
      * to ceil(live bytes / target) — the lever that keeps a table from
      * accreting either thousands of tiny files (per-file overhead
      * dominates the scan) or a handful of giants (no parallelism, no
      * file-level pruning). The estimate is the compressed on-disk size
      * of the live base + deltas — one metadata listing, no data read.
      * 0 = keep the incoming partitioning. */
    val targetFileBytes: Long = 0L) extends LakeTable {

  import MorTable._

  private val hPath = new Path(path)
  private def fs: FileSystem = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write expectations ([[Expectations]] — modes, null semantics) on
    * this handle's commits: FAIL (default) refuses a violating commit,
    * `dropViolations = true` filters violating rows out of the batch. */
  def withExpectations(exps: Seq[(String, Column)],
                       dropViolations: Boolean = false): MorTable =
    withExpectations(exps, if (dropViolations) "drop" else "fail")

  /** [[withExpectations]] by mode name: `fail` | `drop` | `quarantine`. */
  def withExpectations(exps: Seq[(String, Column)], mode: String): MorTable = {
    expectations = new Expectations(exps, mode)
    this
  }
  @transient private var expectations: Expectations = Expectations.none

  // ---------------------------------------------------------------- timeline

  /** DataFrame cache for IMMUTABLE commit dirs (`base/<seq>`,
    * `delta/<seq>`): building `spark.read.parquet(dir)` pays a driver
    * footer-read/schema-inference job per CALL, and a micro-batch pipeline
    * re-reads the same base dirs every batch — at a 1-minute commit
    * cadence those per-read driver round trips (job scheduling + file
    * listing) dominate before any task runs. Published dirs never mutate,
    * so the cached relation (schema + file index) cannot go stale; the
    * cache is purged wholesale by clean()/rollback() (the only operations
    * that delete dirs) and bounded by size. Pruned file-subset scans are
    * NOT cached (they vary per probe). */
  // (cross-handle since r14: see MorTable.scanCacheG — fresh handles are
  // the common case on the SQL/partitioned paths, and a per-handle cache
  // made each of them re-pay the footer-inference job per dir)
  private def scanCacheKey(dir: String): (Int, String) =
    (System.identityHashCode(spark), MorTable.canonPath(dir))

  private def cacheScan(dir: String, df: DataFrame): Unit = {
    if (MorTable.scanCacheG.size > 2048) MorTable.scanCacheG.clear()
    MorTable.scanCacheG.put(scanCacheKey(dir), df)
    ()
  }

  private def scanDir(dir: String): DataFrame = {
    val k = scanCacheKey(dir)
    val hit = MorTable.scanCacheG.get(k)
    if (hit != null) hit
    else {
      val df = spark.read.parquet(MorTable.globSafe(dir))
      cacheScan(dir, df)
      df
    }
  }

  /** This table's commit timeline: claims, instants, archive
    * ([[Timeline]]). */
  @transient private[lake] lazy val commitLog: Timeline = Timeline.child(fs, hPath)

  private def canonTablePath: String = MorTable.canonPath(path)

  private def deltaDir(seq: Long): Path = new Path(hPath, s"delta/$seq")

  /** All committed instants, ascending by seq. */
  def timeline(): Seq[Instant] = commitLog.instants()

  private def lastSeq(tl: Seq[Instant]): Long = tl.lastOption.map(_.seq).getOrElse(0L)

  /** True iff this micro-batch id already committed (exactly-once replays),
    * instants archived by [[clean]] included. */
  def isCommitted(batchId: Long): Boolean = commitLog.isCommitted(batchId)

  // ---------------------------------------------------------------- writes

  /** S6/S7 — keyed upsert of a batch. Last-write-wins inside the batch by
    * `orderWithinBatch` (deterministic; required because two rows for one key
    * in one micro-batch must collapse the way the reference's PK sink does,
    * zpln:2119). Rows for existing keys replace them; new keys insert.
    */
  def upsert(batch: DataFrame, orderWithinBatch: Seq[Column], batchId: Long = -1L): MorTable = {
    // replayed batch: no-op BEFORE dropViolating — its quarantine write is
    // eager, and a committed batch must not re-append its violators
    if (isCommitted(batchId)) return this
    commitDelta(CommitRows.withMeta(dedupBatch(expectations.dropViolating(batch, batchId, path),
      orderWithinBatch), keyCols, deleted = false), batchId)
    this
  }

  /** The quarantine side relation ([[Expectations.readQuarantine]]). */
  def readQuarantine(): DataFrame = Expectations.readQuarantine(spark, path)

  /** [[upsert]] for a batch the CALLER proved key-distinct (e.g. the
    * output of a per-key argmax): skips the per-key dedup window — one
    * full shuffle per commit that would re-prove what the producing plan
    * already guarantees. Like `insertOnly`, the flag trusts the caller; a
    * violating batch surfaces as nondeterministic LWW within the commit. */
  def upsertDistinct(batch: DataFrame, batchId: Long = -1L): MorTable = {
    if (isCommitted(batchId)) return this // see upsert: pre-quarantine no-op
    commitDelta(CommitRows.withMeta(expectations.dropViolating(batch, batchId, path),
      keyCols, deleted = false),
      batchId)
    this
  }

  /** Zero-copy BOOTSTRAP (the Hudi METADATA_ONLY bootstrap analog —
    * `hoodie.bootstrap.*`, the onboarding path for a plain-parquet table
    * that must become a lake table WITHOUT rewriting its data): adopt an
    * existing external parquet directory as this table's first base. The
    * whole commit is ONE instant file pointing at `sourceDir` — zero data
    * jobs, zero bytes copied. Reads synthesize the lake meta columns over
    * the external scan ([[baseScanOf]]): `_record_key` from the key
    * columns, every row live, the whole commit one seqno. Upserts /
    * deletes / changelogs then layer deltas on top exactly as on a
    * managed base, and the first REAL compaction folds everything into a
    * managed, key-clustered, manifest-covered base — after which the
    * external dir is no longer referenced. It is NEVER written or
    * deleted by this table: clean / rollback / restore only remove
    * managed `base/<seq>` dirs, so rolling the bootstrap commit back
    * simply returns the table to empty with the user's parquet intact.
    *
    * Until that first compaction the trade is Hudi METADATA_ONLY's: no
    * manifest, so file-level pruning (bloom / key-range / secondary /
    * z-order) and `_record_key` pushdown do not engage on the bootstrap
    * base (data-column predicates still push into the external parquet
    * scan unchanged), and [[snapshotReadOptimized]] serves the external
    * files as the compaction-boundary state.
    *
    * Like `insertOnly`, KEY-UNIQUENESS of the source is the caller's
    * contract (Hudi record-key semantics): duplicate keys inside the
    * external data share one seqno and would merge nondeterministically.
    * Refuses loudly on a non-empty table, a missing source, or a source
    * schema lacking a key column / carrying lake meta names. Racing
    * writers are handled the [[adoptBase]] way: any delta claimed below
    * the bootstrap seq is recorded `unfolded` so its replay survives. */
  def bootstrap(sourceDir: String, batchId: Long = -1L): MorTable = synchronized {
    val l = commitLog.listing()
    if (commitLog.isCommitted(l, batchId)) return this
    require(l.instants.isEmpty,
      s"bootstrap requires an empty table, but $path has commits")
    val src = new Path(sourceDir)
    require(fs.exists(src), s"bootstrap source $sourceDir does not exist")
    // parquet footers only, no job
    CommitRows.requireSource(scanDir(sourceDir).schema.fieldNames.toSeq, keyCols, sourceDir)
    commitLog.commit("compact") { seq =>
      (Instant(seq, "compact", batchId, System.currentTimeMillis(),
        firstBaseUnfolded(seq, "bootstrap"), bootstrapDir = Some(sourceDir)), ())
    }
    this
  }

  /** Under the claimed first-base seq `seq` (bootstrap, clone): refuse
    * when a base already exists, and return every delta claimed or
    * published below `seq` — recorded `unfolded` so its replay survives.
    * Markers are listed BEFORE the instants, as in [[adoptBase]]. */
  private def firstBaseUnfolded(seq: Long, verb: String): Seq[Long] = {
    val pending = commitLog.pending("delta")
    val tl = timeline()
    require(!tl.exists(_.kind == "compact"),
      s"$verb lost the first-commit race on $path — table already has a base")
    (tl.filter(_.kind == "delta").map(_.seq) ++ pending).distinct.filter(_ < seq).sorted
  }

  /** Shallow CLONE (the Delta `CREATE TABLE … SHALLOW CLONE` / Hudi
    * snapshot-export-without-copy analog): a NEW independent table at
    * `dstPath` whose first base is THIS table's current compacted base —
    * referenced in place, zero bytes copied, one instant file written.
    * The clone is immediately writable: adopted rows are REBASED to the
    * clone instant's seqno ([[Instant.bootstrapMeta]]), so its own
    * deltas outrank them in the LWW merge; its first compaction folds
    * everything into a managed base and drops the last reference to the
    * source files. Divergence is two-way isolated — neither table's
    * upserts, compactions, or destructive verbs touch the other's data
    * (clone-side clean/rollback only remove managed dirs, same rule as
    * [[bootstrap]]).
    *
    * Clone is a COMPACTION-BOUNDARY verb: it refuses while live deltas
    * sit above the base (fold them first — an explicit `compact()`
    * beats silently mutating the source's timeline from a read verb) and
    * when the source base is itself external. The referenced base is
    * pinned against the source's `clean()` with savepoint
    * `clone_<dstName>` — release it ([[releaseSavepoint]]) once the
    * clone has compacted or been dropped; until then the pin is the
    * clone's only protection from source-side housekeeping (the Delta
    * shallow-clone-vs-VACUUM hazard, made explicit and releasable).
    * Returns the clone handle (same key columns and policy knobs).
    *
    * The partitioned form ([[PartitionedMorTable.cloneTo]]) cannot
    * rebase (its reads are ONE raw multi-dir scan) and instead CONTINUES
    * the source's parent token space — see its scaladoc for the seqno
    * story. */
  def cloneTo(dstPath: String): MorTable = synchronized {
    val c = cloneBoundaryBase()
    // clone AT a BOOTSTRAP boundary (the "onboard, then immediately
    // branch a dev copy" workflow): the base is the USER's external
    // parquet — forwarding the same reference IS the clone, and no pin is
    // needed because the external dir is user-owned (this table's clean/
    // rollback never touch it, per the bootstrap contract). The clone is
    // literally an independent bootstrap of the same dir: same zero-copy,
    // same rebase story, zero rewriting of the 100 TB onboarding.
    if (c.bootstrapDir.isDefined && !c.bootstrapMeta) {
      require(c.bootstrapPart.isEmpty,
        s"cloneTo: $path is a partitioned-bootstrap CHILD — clone the " +
          "parent table instead")
      val dst = new MorTable(spark, dstPath, keyCols, compactionDeltaCommits,
        compactionDeltaSeconds, autoCompact, writePartitions, bloomBits)
      dst.bootstrap(c.bootstrapDir.get)
      return dst
    }
    // pin keyed by the DESTINATION's dir name — clones of one source must
    // use distinct dst names, or they would share (and co-release) a pin
    val pin = s"clone_${new Path(dstPath).getName.replaceAll("[^A-Za-z0-9-]", "_")}"
    // found-vs-created matters below: a pre-existing pin belongs to an
    // EARLIER successful clone of this dst name and is that clone's only
    // clean() protection — a failed retry must never release it
    val preExisting = savepoints().get(pin)
    val pinnedSeq = preExisting.getOrElse(savepoint(pin))
    // the pin must land exactly on the base we reference: a commit racing
    // in between the boundary check and the pin would pin the NEWER seq
    // and leave the referenced base unprotected from clean()
    if (pinnedSeq != c.seq) {
      if (preExisting.isEmpty) releaseSavepoint(pin)
      throw new IllegalStateException(
        if (preExisting.isDefined)
          s"cloneTo: savepoint '$pin' already pins seq $pinnedSeq (an earlier " +
            s"clone of this dst name?) but the base is ${c.seq} — use a " +
            "distinct dst name or releaseSavepoint explicitly"
        else
          s"cloneTo: a writer committed on $path during the clone (pin landed " +
            s"on $pinnedSeq, base is ${c.seq}) — quiesce writers and retry")
    }
    val dst = new MorTable(spark, dstPath, keyCols, compactionDeltaCommits,
      compactionDeltaSeconds, autoCompact, writePartitions, bloomBits)
    dst.adoptClonedBase(s"$path/base/${c.seq}")
    dst
  }

  /** The compaction-boundary base this table can be cloned from (shared
    * by [[cloneTo]] and [[PartitionedMorTable.cloneTo]]'s per-child
    * checks): loud unless the live state is exactly one managed,
    * fully-folded base with no live deltas. */
  private[lake] def cloneBoundaryBase(): MorTable.Instant = {
    val (lastCompact, deltas) = liveDeltas(timeline())
    val c = lastCompact.getOrElse(throw new IllegalStateException(
      s"cloneTo: $path has no compacted base — compact() first"))
    require(deltas.isEmpty,
      s"cloneTo: $path has ${deltas.size} live delta commit(s) above the " +
        "base — clone is a compaction-boundary verb, compact() first")
    // a meta-less BOOTSTRAP base is cloneable (forwarded as a fresh
    // bootstrap of the same user-owned dir — see cloneTo); an adopted
    // CLONE base is not: a clone-of-clone would need a cross-table pin on
    // the ORIGINAL source, whose handle this table does not hold
    require(c.bootstrapDir.isEmpty || !c.bootstrapMeta,
      s"cloneTo: $path's base is an adopted CLONE base — compact() first " +
        "to manage it")
    require(c.unfolded.isEmpty,
      s"cloneTo: base ${c.seq} carries unfolded straggler commits — " +
        "compact() again once they publish")
    c
  }

  /** Child half of [[PartitionedMorTable.bootstrap]]: publish THIS
    * child's zero-copy bootstrap instant over ONE external Hive
    * partition directory (`…/<partCol>=<v>`). Same contract as
    * [[bootstrap]] — the external dir is never written or deleted —
    * plus: the partition (column, raw value, catalog type) is recorded
    * on the instant ([[Instant.bootstrapPart]]; Hive layout keeps the
    * value out of the files) and the child seq must land on
    * `expectSeq`, the parent bootstrap token — both seqno-synthesis
    * sites (this child's [[baseScanOf]] and the parent's one discovery
    * scan) must rank the adopted rows identically, and both tables
    * being empty makes them coincide by construction; the require
    * turns any future drift into a loud failure instead of a latent
    * LWW tie. Idempotent for crash retries keyed on the source dir. */
  private[lake] def adoptBootstrapBase(sourceDir: String, partCol: String,
                                       partValue: String, partType: String,
                                       expectSeq: Long): Unit = synchronized {
    val tl0 = timeline()
    if (tl0.exists(i => i.kind == "compact" && !i.bootstrapMeta &&
        i.bootstrapDir.contains(sourceDir))) return // crash-retry: already adopted
    require(tl0.isEmpty,
      s"bootstrap child $path already has commits")
    commitLog.commit("compact") { seq =>
      require(seq == expectSeq,
        s"bootstrap child $path allocated seq $seq, expected the parent " +
          s"token $expectSeq — seqno synthesis would diverge between the " +
          "child and parent scans")
      (Instant(seq, "compact", -1L, System.currentTimeMillis(),
        firstBaseUnfolded(seq, "bootstrap"), bootstrapDir = Some(sourceDir),
        bootstrapPart = Some((partCol, partValue, partType))), ())
    }
  }

  /** The live base instant when it is a META-LESS bootstrap (external
    * raw parquet, no lake columns on disk) — the one base shape the
    * partitioned parent's raw multi-dir scan cannot serve and must
    * route through a synthesizing scan instead. None for managed and
    * cloned bases. */
  private[lake] def metalessBootstrapBase(): Option[Instant] =
    liveDeltas(timeline())._1
      .filter(c => c.bootstrapDir.isDefined && !c.bootstrapMeta)

  /** Publish the clone-side instant for [[cloneTo]] (same first-commit
    * race handling as [[bootstrap]]). */
  private[lake] def adoptClonedBase(srcBaseDir: String): Unit = synchronized {
    require(timeline().isEmpty,
      s"clone destination $path already has commits")
    commitLog.commit("compact") { seq =>
      (Instant(seq, "compact", -1L, System.currentTimeMillis(),
        firstBaseUnfolded(seq, "clone"), bootstrapDir = Some(srcBaseDir),
        bootstrapMeta = true), ())
    }
  }

  /** [[upsert]] with WRITE-PATH INDEX TAGGING — the Hudi bloom-index
    * write path (Hudi probes its bloom index to split an upsert into
    * inserts vs updates before routing; the reference's keyed sinks
    * default to exactly that index, `CDC-Hudi-Notebook.zpln:292`): PROVE
    * the batch is all-new keys and commit it `insertOnly` — the
    * no-LWW-window fast path — instead of trusting the writer's claim.
    * Returns whether the proof succeeded (false = committed normally).
    *
    * The proof is sound by construction, in the only direction that
    * matters: the batch's keys collapse into ONE fixed-size Bloom filter
    * + key bounds (a single agg job over the deduped batch, which is
    * pinned and reused by the commit write); base files whose manifest
    * key range cannot intersect the batch bounds are disjoint by
    * metadata — a monotonic-key append (the dominant real insert
    * pattern) prunes EVERY base file here and scans nothing; surviving
    * base files and live delta dirs have only their `_record_key` column
    * scanned, map-side, against the batch filter (`key_bloom_contains`,
    * codegen'd, first hit short-circuits via head(1)). Blooms have no
    * false negatives, so an existing batch key — tombstoned keys
    * included, they still occupy the key in base — ALWAYS probes
    * positive and newness is never wrongly claimed; a false positive
    * only downgrades to the normal merge path. Probe cost is a
    * key-column projection over range-surviving files, never a data
    * read.
    *
    * Concurrency: the proof is against the timeline observed at probe
    * time — two uncoordinated writers racing the SAME key through
    * `upsertIfNew` could both prove "new" (the usual write-index caveat;
    * Hudi's answer is the table lock). Per the insert-only contract,
    * that is the one shape the flag must not lie about, so keep racing
    * same-key writers on the plain [[upsert]] path or serialize them. */
  def upsertIfNew(batch: DataFrame, orderWithinBatch: Seq[Column],
                  batchId: Long = -1L, bloomBits: Int = 1 << 17): Boolean = {
    if (isCommitted(batchId)) return false // see upsert: pre-quarantine no-op
    graft.GraftFunctions.register(spark)
    val deduped = CommitRows.withMeta(dedupBatch(expectations.dropViolating(batch, batchId, path),
      orderWithinBatch), keyCols, deleted = false)
      .localCheckpoint(true) // one materialization: probe agg + commit write
    val a = deduped.agg(
      call_function("key_bloom_agg", col("_record_key"), lit(bloomBits)).as("f"),
      min(col("_record_key")).as("mn"),
      max(col("_record_key")).as("mx")).head()
    val isNew = a.getString(1) != null &&
      !keysMightExist(a.getAs[Array[Byte]]("f"), a.getString(1), a.getString(2))
    commitDelta(deduped, batchId, insertOnly = isNew)
    isNew
  }

  /** True iff some CURRENT table key (live base or delta rows, tombstones
    * included) might be in `filter`. Base files are pre-pruned by manifest
    * key bounds against [mn, mx] — exact metadata, so pruning can never
    * hide a real hit ([[upsertIfNew]]'s soundness note). */
  private def keysMightExist(filter: Array[Byte], mn: String, mx: String): Boolean = {
    // a bootstrap base has no on-disk _record_key — probe it through the
    // synthesizing scan instead of the raw path union
    val bootScan = liveDeltas(timeline())._1
      .filter(_.bootstrapDir.isDefined)
      .map(c => baseScanOf(c).select("_record_key"))
    val paths = probePaths(mn, mx)
    val pathScan =
      if (paths.isEmpty) None
      else Some(spark.read.parquet(MorTable.globSafe(paths): _*)
        .select("_record_key"))
    val scans = bootScan.toSeq ++ pathScan.toSeq
    scans.nonEmpty && scans.reduce(_.unionByName(_))
      .filter(call_function("key_bloom_contains", lit(filter), col("_record_key")))
      .head(1).nonEmpty
  }

  /** The paths a newness probe over key range [mn, mx] must scan:
    * range-surviving base files (manifest key bounds — exact metadata, so
    * pruning can never hide a real hit) plus live delta dirs. Empty means
    * newness is proven from bounds alone — except for a bootstrap base
    * (raw files without meta columns), which [[keysMightExist]] probes
    * separately via [[baseScanOf]] and is excluded here. */
  private[lake] def probePaths(mn: String, mx: String): Seq[String] = {
    val (lastCompact, deltas) = liveDeltas(timeline())
    val basePaths: Seq[String] = lastCompact.toSeq.flatMap { c =>
      // meta-less bootstrap: no on-disk _record_key, probed via
      // baseScanOf; a CLONED base carries the meta columns on disk but
      // lives at the external dir (no manifest → no pruning, scan whole)
      if (c.bootstrapDir.isDefined && !c.bootstrapMeta) Nil
      else keptByKeyRange(c.seq, mn, mx, hiInclusive = true)
        .getOrElse(Seq(baseDirOf(c)))
    }
    basePaths ++ deltas.map(d => s"$path/delta/${d.seq}")
  }

  /** Delete by key — writes tombstones (CDC `op = D`). `keys` needs the key
    * columns only. */
  def delete(keys: DataFrame, batchId: Long = -1L): MorTable = {
    val schema = snapshotSchema()
    // pad the tombstone rows to the full table schema (nulls for data cols)
    val padded = schema.fields.filterNot(f => keys.columns.contains(f.name))
      .foldLeft(keys.select(keyCols.map(col): _*)) { (df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType))
      }
    commitDelta(CommitRows.withMeta(padded, keyCols, deleted = true), batchId)
    this
  }

  /** One delta commit carrying live rows AND tombstones — the MV-refresh
    * shape, which previously paid TWO full commit rounds (upsert + delete)
    * per maintenance cycle. `rows` must carry the full table schema (the
    * view's group cols + maintained aggregates); `deadKeys` needs the key
    * columns only and MUST be key-disjoint from `rows` (the caller's
    * contract — MV refresh derives dead = touched ∖ refreshed, disjoint by
    * construction), since both sides share one `_commit_seqno`. */
  private[lake] def upsertAndDelete(rows: DataFrame, deadKeys: DataFrame,
                                    batchId: Long = -1L): MorTable = {
    if (isCommitted(batchId)) return this
    val padded = rows.schema.fields.filterNot(f => keyCols.contains(f.name))
      .foldLeft(deadKeys.select(keyCols.map(col): _*)) { (df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType))
      }
    commitDelta(CommitRows.withMeta(rows, keyCols, deleted = false)
      .unionByName(CommitRows.withMeta(padded, keyCols, deleted = true)), batchId)
    this
  }

  /** Adopt an already-written delta directory (all rows carrying the meta
    * columns, `_commit_seqno` included) as this table's next commit: one
    * rename + one timeline instant, no Spark job. This is how
    * [[PartitionedMorTable]] commits — ONE staged cluster write for the
    * whole batch, then per-partition metadata-only adoption. */
  private[lake] def adoptDelta(src: Path, batchId: Long,
                               insertOnly: Boolean = false,
                               schemaHint: Option[org.apache.spark.sql.types.StructType] = None): Unit = synchronized {
    val l = commitLog.listing()
    if (commitLog.isCommitted(l, batchId)) { fs.delete(src, true); return } // replay no-op
    // same first-commit rule as commitDelta: nothing to collide with
    val firstCommit = l.instants.isEmpty && l.pending("delta").isEmpty
    commitLog.commit("delta", seq => Some(deltaDir(seq))) { seq =>
      val dst = deltaDir(seq)
      fs.mkdirs(dst.getParent)
      if (!fs.rename(src, dst)) throw new java.io.IOException(s"delta adopt rename failed: $dst")
      // the stager knows the written schema (commitDelta's rule): register
      // the relation so no later snapshot read pays a footer-inference job —
      // measured 1 job per child per staged commit on the partitioned replays
      schemaHint.foreach(sch => cacheScan(s"$path/delta/$seq",
        spark.read.schema(sch).parquet(MorTable.globSafe(s"$path/delta/$seq"))))
      (Instant(seq, "delta", batchId, System.currentTimeMillis(),
        insertOnly = insertOnly || firstCommit), ())
    }
    // compaction is the parent's job (it batches all due partitions into one
    // cluster write) — see PartitionedMorTable.maybeCompact
  }

  /** Adopt an already-written compacted base directory (see adoptDelta):
    * one rename + one `compact` timeline instant, no Spark job.
    *
    * `foldedDeltaSeqs` = the delta seqs whose content IS in the staged
    * snapshot (from [[prepareCompact]]). Every other delta seq below the
    * new base's seq — inflight markers, and commits published after the
    * snapshot was staged — is recorded on the instant as `unfolded`, so
    * snapshot reads replay it once it publishes instead of permanently
    * shadowing a slow concurrent writer's commit. */
  private[lake] def adoptBase(src: Path, foldedDeltaSeqs: Set[Long],
                              schemaHint: Option[org.apache.spark.sql.types.StructType] = None): Unit = synchronized {
    val baseDir = (seq: Long) => new Path(hPath, s"base/$seq")
    val (seq, lastC) = commitLog.commit("compact", seq => Some(baseDir(seq))) { seq =>
      // markers listed BEFORE the timeline read (same order prepareCompact
      // documents): a writer that publishes its instant and deletes its
      // marker between the two listings then shows up in the TIMELINE; with
      // the inverted order it would appear in neither set and its commit
      // would be silently excluded from `unfolded` — a lost write
      val pending = commitLog.pending("delta")
      val tl = timeline()
      val lastC = tl.filter(_.kind == "compact").lastOption
      val candidates =
        (tl.filter(_.kind == "delta").map(_.seq) ++ pending).distinct
      val unfolded = candidates.filter(_ < seq).filterNot(foldedDeltaSeqs).filter { s =>
        // below the previous compact, only its own unfolded set is still
        // outstanding — everything else is in the ancestor base already
        lastC.forall(c => s > c.seq || c.unfolded.contains(s))
      }.sorted
      val dst = baseDir(seq)
      fs.mkdirs(dst.getParent)
      if (!fs.rename(src, dst)) throw new java.io.IOException(s"base adopt rename failed: $dst")
      // the compactor knows the staged schema: register the base relation so
      // neither the manifest stats pass nor any later snapshot read pays a
      // footer-inference job (carried files may be schema-narrower - the
      // explicit schema reads their missing columns as null, exactly the
      // allowMissingColumns contract)
      schemaHint.foreach(sch => cacheScan(s"$path/base/$seq",
        spark.read.schema(sch).parquet(MorTable.globSafe(s"$path/base/$seq"))))
      (Instant(seq, "compact", -1L, System.currentTimeMillis(), unfolded), (seq, lastC))
    }
    writeManifest(seq, baseDir(seq))
    // an existing record-level index follows the table across compactions
    // (carried-file postings rewrite instead of rescanning — see
    // refreshRecordIndex); absent the opt-in, zero cost
    if (recordIndexEnabled()) refreshRecordIndex(seq, lastC)
  }

  /** External snapshot manifest (the Hudi/Delta symlink-manifest analog of
    * the reference's Athena-via-Glue read path,
    * `lib/rds-cdc-flink-hudi-stack.ts:458-519`) — SHARDED layout:
    *
    *  - `manifest/<seq>.json` — a TINY header (base seq, declared filter,
    *    file count, stat/index column sets). Schema/policy-level only;
    *    O(1) in file count.
    *  - `manifest/stats/<seq>/` — the per-file stats RELATION as parquet:
    *    one row per base file carrying its full path + name, key bounds,
    *    key Bloom filter, tombstone flag, per-column min/max
    *    ([[statsCols]]) and secondary blooms ([[indexCols]]). Written
    *    DIRECTLY from the one post-compaction stats pass — the rows never
    *    visit the driver.
    *
    * The old single-JSON form put key blooms (8 KB/file) + secondary
    * blooms + colstats in ONE driver-built, regex-parsed string: at the
    * 10⁵–10⁶ base files of a 100 TB table that is a ~GB driver-side
    * bottleneck on every write AND every pruned read. Sharded, readers
    * either load a BOUNDED driver-side slice (small tables,
    * [[MorTable.smallManifestFiles]]) or filter the stats relation
    * cluster-side and collect only pruned file NAMES (see [[keptFiles]]).
    *
    * External engines: read the header, then `manifest/stats/<seq>/` with
    * any parquet reader — its `file` column is the snapshot listing
    * ([[MorTable.readManifest]] is that recipe); apply the declared
    * `_deleted` filter, drop `_*` meta columns. Manifests are immutable
    * and versioned; consumers take the highest seq. Best-effort: a
    * manifest write failure never fails the commit (the timeline stays
    * the source of truth). */
  private def writeManifest(seq: Long, baseDir: Path): Unit =
    try {
      if (bloomBits == 0) return // declared write-optimized: no metadata plane
      val files = fs.listStatus(baseDir).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
      // per-file key bounds (the Hudi column-stats / Delta file-stats
      // analog). Range-partitioned files have DISJOINT bounds, so
      // [[snapshotForKeyRange]] skips non-intersecting files at the
      // LISTING level — no footer open, no task. Key bounds, key blooms,
      // z-order colstats AND secondary blooms come from ONE
      // groupBy(file name) aggregation — this stats pass is on the only
      // O(table) path the engine has (post-compaction), so it must not
      // scan the fresh base twice.
      // (statsCols inheritance first: a FRESH handle inherits the column
      // set from the previous manifest header, so the skipping contract
      // survives restarts — without this a plain compact() from a new
      // handle would silently stop publishing the stats readForColRanges
      // prunes on.)
      if (statsCols.isEmpty)
        statsCols = previousManifestStatCols(seq)
      val sCols = statsCols
      if (indexCols.isEmpty)
        indexCols = previousManifestIndexCols(seq)
      val iCols = indexCols
      graft.GraftFunctions.register(spark)
      val aggs = Seq(min(col("_record_key")).as("mn"),
        max(col("_record_key")).as("mx"),
        // per-file row count → header total: the planner's rowCount
        // statistic reads ONE header field instead of opening footers
        count(lit(1)).as("rows"),
        // per-file key Bloom filter (the Hudi bloom-index analog) from the
        // SAME pass — point reads prune base files by key MEMBERSHIP, not
        // just range (see snapshotForKeys)
        call_function("key_bloom_agg", col("_record_key"), lit(bloomBits))
          .as("bloom"),
        // tombstone flag: a file holding ANY retained tombstone is exempt
        // from secondary-index pruning (a tombstone's data cols are null —
        // no bloom could witness it; see readForColEquals)
        max(when(col("_deleted"), 1).otherwise(0)).as("del"),
        // exact NON-tombstone row count — the metadata-only COUNT(*)
        // source ([[exactLiveRowCount]]): at a clean boundary the base's
        // live total IS the snapshot count, answered from one header field
        sum(when(col("_deleted"), 0L).otherwise(1L)).as("live")) ++
        sCols.flatMap(c => Seq(
          min(col(c).cast("double")).as(s"mn_$c"),
          max(col(c).cast("double")).as(s"mx_$c"))) ++
        // per-file HLL NDV registers for the stat columns (p=12, ±1.6%),
        // engine-portable hash family (first 8 md5 hex digits of the CAST
        // string): slot-max merge gives the NDV of ANY file subset, and
        // the table-level estimate rides the SAME pass as a header field
        // (ndvObs below) for the planner's O(1) colStats read
        sCols.map(c => call_function("hll_agg",
          MorTable.hash32(col(c)), lit(MorTable.ndvP)).as(s"hll_$c")) ++
        // SECONDARY bloom index (the Hudi 1.0 secondary-index analog):
        // per-file membership filters over declared non-key columns,
        // stringified with Spark CAST semantics
        iCols.map(c => call_function("key_bloom_agg",
          col(c).cast("string"), lit(bloomBits)).as(s"bl_$c"))
      // grouping key = the part-file NAME: input_file_name() yields the
      // URI-ENCODED path while listings yield the raw form — the two
      // encodings never string-match, and only the Spark-generated hex
      // NAME agrees across representations; the full `file` column for external
      // readers is rebuilt from the LISTED prefix (all base files live
      // flat in base/<seq>/, carried files included)
      val prefix = files.headOption.map(f => f.substring(0, f.lastIndexOf('/') + 1))
        .getOrElse(baseDir.toString + "/")
      val statsDir = new Path(hPath, s"manifest/stats/$seq")
      val shards = math.max(1, (files.size + 8191) / 8192)
      // the header's base row total piggybacks on the SAME stats action
      // via an Observation — a read-back sum would be one more driver job
      // per compaction (per CHILD in the partitioned form), the exact tax
      // the commit-dir cache work removed
      val rowsObs = new org.apache.spark.sql.Observation(
        s"graft_manifest_rows_${seq}_${System.nanoTime()}")
      // table-level NDV registers ride the same pass as a PRE-groupBy
      // observation (TypedImperativeAggregates are legal CollectMetrics
      // aggregates, like percentile_approx) — estimated driver-side into
      // the header, so CBO colStats read one cached header field, zero jobs
      val ndvObs =
        if (sCols.isEmpty) None
        else Some(new org.apache.spark.sql.Observation(
          s"graft_manifest_ndv_${seq}_${System.nanoTime()}"))
      val scan0 = scanDir(s"$path/base/$seq")
      val scanObs = ndvObs match {
        case Some(o) =>
          val es = sCols.map(c => call_function("hll_agg",
            MorTable.hash32(col(c)), lit(MorTable.ndvP)).as(s"ndv_$c"))
          scan0.observe(o, es.head, es.tail: _*)
        case None => scan0
      }
      // table-level column min/max fold over the per-file stats rows on
      // the same post-agg observation as the row total (CBO's equality
      // interval check needs BOTH bounds — a numeric column with no
      // min/max reads as an EMPTY interval to FilterEstimation, not an
      // unknown one, and would estimate every literal to zero rows)
      val rowsAggs = Seq(sum(col("rows")).as("total"),
        sum(col("live")).as("liveTotal")) ++ sCols.flatMap(c =>
        Seq(min(col(s"mn_$c")).as(s"cmin_$c"), max(col(s"mx_$c")).as(s"cmax_$c")))
      scanObs
        .groupBy(regexp_extract(input_file_name(), "[^/]*$", 0).as("fname"))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("file", concat(lit(prefix), col("fname")))
        .observe(rowsObs, rowsAggs.head, rowsAggs.tail: _*)
        .coalesce(shards)
        .write.mode("overwrite").parquet(statsDir.toString)
      val dir = new Path(hPath, "manifest")
      fs.mkdirs(dir)
      val totalRows = rowsObs.get.get("total") match {
        case Some(l: java.lang.Long) => l.longValue()
        case _ => 0L
      }
      val liveRows = rowsObs.get.get("liveTotal") match {
        case Some(l: java.lang.Long) => l.longValue()
        case _ => 0L
      }
      def js(s: String): String = MorTable.jsEscape(s)
      def colArr(cs: Seq[String]): String =
        cs.map(c => "\"" + js(c) + "\"").mkString(",")
      val ndv: Map[String, Long] = ndvObs.map { o =>
        val row = o.get
        sCols.flatMap(c => row.get(s"ndv_$c").collect {
          case regs: scala.collection.Seq[_] =>
            c -> math.round(MorTable.hllEstimate(
              regs.map(_.asInstanceOf[Number].intValue()).toSeq))
        }).toMap
      }.getOrElse(Map.empty)
      val rowsMap = rowsObs.get
      def bound(k: String): Option[Double] = rowsMap.get(k).collect {
        case d: java.lang.Number => d.doubleValue()
      }
      val ndvJson =
        if (ndv.isEmpty) ""
        else {
          def m(name: String, f: String => Option[String]): String =
            s""""$name":{${sCols.flatMap(c => f(c).map(v =>
              "\"" + js(c) + "\":" + v)).mkString(",")}},"""
          m("ndv", c => ndv.get(c).map(_.toString)) +
            m("colMin", c => bound(s"cmin_$c").map(_.toString)) +
            m("colMax", c => bound(s"cmax_$c").map(_.toString))
        }
      val json =
        s"""{"baseSeq":$seq,"filter":"_deleted = false",""" +
          s""""fileCount":${files.size},"rows":$totalRows,"liveRows":$liveRows,$ndvJson""" +
          s""""statCols":[${colArr(sCols)}],""" +
          s""""indexCols":[${colArr(iCols)}],""" +
          s""""statsDir":"stats/$seq"}"""
      val tmp = new Path(dir, s".$seq.json.tmp")
      val out = fs.create(tmp, true)
      try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
      if (!fs.rename(tmp, new Path(dir, s"$seq.json")))
        throw new java.io.IOException(s"manifest rename failed: $dir/$seq.json")
    } catch {
      case e: java.io.IOException =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"snapshot manifest write failed for $path base $seq", e)
    }

  /** Apply one changelog micro-batch (envelope: op/key/before/after/seq —
    * see graft.sources.ChangelogSource) as a SINGLE delta commit: I/U rows
    * become upserts, D rows tombstones. Last op per key in the batch wins
    * by seq. This is the state-table write path of the continuous pipeline
    * (reference zpln:2317). */
  /** `insertOnly = true` asserts the batch carries only `op = I` rows with
    * distinct keys (the caller usually just proved it — the append-only CDC
    * fast path), which makes the per-key LWW window a no-op: skip its
    * shuffle entirely. */
  def applyChangelog(envelope: DataFrame, batchId: Long,
                     insertOnly: Boolean): MorTable = {
    val last =
      if (insertOnly) envelope
      else CommitRows.latestPerKey(envelope, Seq(col("key")), Seq(col("seq").desc))
    val rows = last.select(
      // D rows keep the before-image (tombstone still carries the key cols)
      when(col("op") === "D", col("before")).otherwise(col("after")).as("__r"),
      (col("op") === "D").as("__del"))
      .select(col("__r.*"), col("__del"))
    val withM = rows
      .withColumn("_record_key", CommitRows.recordKey(keyCols.map(col)))
      .withColumnRenamed("__del", "_deleted")
    commitDelta(withM, batchId, insertOnly = insertOnly)
    this
  }

  /** Predicate delete (the `DELETE FROM t WHERE …` analog): one snapshot
    * read resolves the matching keys, then tombstones them — predicate
    * cost is a scan (pushed to parquet like any filter), the commit is
    * O(matches). */
  def deleteWhere(cond: Column, batchId: Long, values: Seq[String]): MorTable = {
    wholeTable(values)
    delete(read().filter(cond).select(keyCols.map(col): _*), batchId)
  }

  /** [[deleteWhere]] when the predicate is known to imply a record-key
    * set (the SQL layer proves `WHERE key = … [AND …]`): the matching
    * rows resolve through the KEY-PRUNED point read — listing-level
    * bloom/range file pruning instead of a snapshot scan. `cond` is
    * still applied (extra conjuncts narrow further; soundness needs only
    * that every cond-satisfying row carries one of `recordKeys`). */
  def deleteWhereKeys(recordKeys: Seq[String], cond: Column, batchId: Long,
                      values: Seq[String]): MorTable = {
    wholeTable(values)
    // indexed form: a FRESH record index pins the touched base files
    // exactly (readForKeysIndexed fails closed to the bloom path) — the
    // same soundness argument as the read path, since only rows carrying
    // one of `recordKeys` can satisfy the SQL layer's proved predicate
    delete(readForKeysIndexed(recordKeys).filter(cond)
      .select(keyCols.map(col): _*), batchId)
  }

  /** Predicate update (the `MERGE INTO … WHEN MATCHED UPDATE` / SQL
    * `UPDATE t SET … WHERE …` analog): rewrite the matching rows' images
    * and upsert them — last-write-wins replaces in place, commit is
    * O(matches). `set` columns may reference the existing row, and ALL
    * assignments evaluate against the ORIGINAL row in one projection
    * (SQL UPDATE semantics: `SET a = b, b = a` swaps — a sequential
    * withColumn fold would feed b the already-updated a, and make
    * interdependent sets silently depend on Map iteration order). */
  def updateWhere(cond: Column, set: Map[String, Column], batchId: Long,
                  values: Seq[String]): MorTable = {
    wholeTable(values)
    updateOver(read().filter(cond), set, batchId)
  }

  /** [[updateWhere]] through the key-pruned point read (see
    * [[deleteWhereKeys]] for the contract). */
  def updateWhereKeys(recordKeys: Seq[String], cond: Column,
                      set: Map[String, Column], batchId: Long,
                      values: Seq[String]): MorTable = {
    wholeTable(values)
    updateOver(readForKeysIndexed(recordKeys).filter(cond), set, batchId)
  }

  private def updateOver(base: DataFrame, set: Map[String, Column],
                         batchId: Long): MorTable =
    upsert(MorTable.updatedImages(base, set), keyCols.map(col), batchId)

  /** Conditional MERGE (the SQL:2016 `MERGE INTO` / Hudi payload-combine /
    * Delta merge surface — the reference's writes are all key-merge
    * semantics, zpln:2234). Joins `source` against the current snapshot on
    * the table key and applies, in ONE delta commit:
    *
    *   - WHEN MATCHED AND `matchedDelete`  → tombstone the target row
    *   - WHEN MATCHED (otherwise)          → the target image with the
    *     `matchedSet` assignments applied
    *   - WHEN NOT MATCHED AND `insertWhen` → insert the source row
    *
    * Predicates and assignment expressions may reference BOTH rows via the
    * aliases `s` (source) and `t` (target), e.g. `col("t.balance") +
    * col("s.delta")`. `source` must carry the full table schema (inserts
    * need every column) and be key-distinct — the MERGE cardinality rule;
    * violations fail loudly rather than resolve nondeterministically.
    *
    * Scale: the target side resolves through the KEY-PRUNED read — for a
    * bounded source the keys are collected once and the listing-level
    * bloom/range pruning of [[readForKeys]] bounds the scan to probe-hit
    * FILES (the Hudi bloom-index write-path tagging); past the collect
    * cap, [[readForKeysOf]]'s scan-and-join keeps the merge shuffle to
    * matching rows. Sound because the join is a LEFT join from the source
    * on key equality: a target row outside the source's key set can never
    * appear in the output. Commit is O(|source|) — at 100 TB a 1,000-row
    * merge touches the handful of base files that might hold those keys,
    * never the full snapshot. The cardinality check rides the same
    * key-collect job (no extra pass for the typical small source). */
  def mergeInto(source: DataFrame,
                matchedSet: Map[String, Column],
                matchedDelete: Option[Column] = None,
                insertWhen: Column = lit(true),
                batchId: Long = -1L): MorTable = {
    val dataCols = read().columns.toSeq
    require(dataCols.forall(source.columns.contains),
      s"mergeInto: source is missing table columns ${dataCols.filterNot(source.columns.contains).mkString(", ")}")
    val (src, target) = mergeTarget(source,
      "mergeInto: source has duplicate keys (MERGE cardinality violation)")
    val t = target.withColumn("__matched", lit(true)).alias("t")
    val joined = src.alias("s").join(
      t, keyCols.map(k => col(s"s.$k") === col(s"t.$k")).reduce(_ && _), "left")
    val matched = col("t.__matched").isNotNull
    val delCond = matchedDelete.map(matched && _).getOrElse(lit(false))
    val afterImage = struct(dataCols.map { c =>
      val updated =
        if (keyCols.contains(c)) col(s"t.$c")
        else matchedSet.getOrElse(c, col(s"t.$c"))
      when(matched, updated).otherwise(col(s"s.$c")).as(c)
    }: _*)
    val beforeImage = struct(dataCols.map(c => col(s"t.$c").as(c)): _*)
    val env = joined.select(
      when(delCond, lit("D"))
        .when(matched, lit("U"))
        .when(insertWhen, lit("I")).as("op"),
      CommitRows.recordKey(keyCols.map(k => col(s"s.$k"))).as("key"),
      beforeImage.as("before"),
      afterImage.as("after"),
      lit(0L).as("seq"))
      .filter(col("op").isNotNull)
    applyChangelog(env, batchId)
  }

  /** Key-pruned target resolution for the MERGE family, with the
    * cardinality check fused into the key-collect job: group the batch by
    * key (one pass), collect up to [[MorTable.mergeKeyCollectCap]]
    * (key, count) rows — a small batch proves key-distinctness AND yields
    * the literal probe set for [[readForKeys]]' listing-level bloom/range
    * file pruning in the SAME job. Past the cap, distinctness is a
    * separate bounded count and the target resolves through
    * [[readForKeysOf]]'s scan-and-join (no file pruning, but the merge
    * shuffle still carries only matching rows). Callers join the result
    * LEFT from the batch on key equality, so restricting the target to
    * the batch's own keys is an identity on the join output. */
  private[lake] def mergeTarget(batch: DataFrame, dupMsg: String): (DataFrame, DataFrame) = {
    // PIN the batch before anything executes it: the cardinality check,
    // the probe-key collect, and the caller's join each run this plan —
    // for a nondeterministic (or concurrently refreshed) source the
    // join-time key set could exceed the collected probe set, and a
    // matched target row would be pruned from the target read and
    // silently misrouted as an insert. A LAZY localCheckpoint
    // materializes on the first job (the key/cardinality shuffle computes
    // every source partition) and every later use replays the pinned
    // blocks — same-rows consistency with no extra job. Callers MUST use
    // the returned pinned frame, not their original, in the join.
    val pinned = batch.localCheckpoint(eager = false)
    // Pruning needs a compacted base: before the first compaction there is
    // no manifest to prune against and typically no merge shuffle to
    // restrict — the key plumbing would be pure plan overhead (measured:
    // +5 driver jobs / +0.7 s task-time on the delta-only s61 table), so
    // delta-only tables keep the plain snapshot target.
    if (!timeline().exists(_.kind == "compact")) {
      val dup = pinned.groupBy(keyCols.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count()
      require(dup == 0L, dupMsg)
      return (pinned, read())
    }
    val keyed = pinned.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .select(CommitRows.recordKey(keyCols.map(col)).as("__pk"),
        col("__n"))
    val head = keyed.limit(MorTable.mergeKeyCollectCap + 1).collect()
    if (head.length <= MorTable.mergeKeyCollectCap) {
      require(head.forall(_.getLong(1) == 1L), dupMsg)
      // a FRESH record index pins the touched base files EXACTLY instead
      // of probabilistically (fails closed to the bloom path otherwise)
      (pinned, readForKeysIndexed(head.map(_.getString(0)).toSeq))
    } else {
      require(keyed.filter(col("__n") > 1).limit(1).count() == 0L, dupMsg)
      (pinned, readForKeysOf(keyed.select("__pk")))
    }
  }

  /** [[readForKeys]] below the collect cap (listing-level file pruning),
    * [[readForKeysOf]] above it — the size-dispatching point read the SQL
    * MERGE command uses when its ON condition implies key equality.
    * `batchKeys` is a one-column DataFrame of record keys. */
  private[graft] def readForKeyBatch(batchKeys: DataFrame,
                                     values: Seq[String]): DataFrame = {
    wholeTable(values)
    // same compacted-base gate as mergeTarget: callers left-join on key
    // equality, so the unrestricted snapshot is semantically identical
    // and cheaper when there is nothing to prune
    if (!timeline().exists(_.kind == "compact")) return read()
    val k = batchKeys
      .select(col(batchKeys.columns.head).cast("string").as("__pk")).distinct()
    val head = k.limit(MorTable.mergeKeyCollectCap + 1).collect()
    if (head.length <= MorTable.mergeKeyCollectCap)
      readForKeysIndexed(head.map(_.getString(0)).toSeq)
    else readForKeysOf(k)
  }

  /** Additive SCHEMA EVOLUTION as a metadata-only commit (the Hudi
    * add-column analog; drops/renames are refused for this provider by
    * Spark's v1 session catalog, loudly): publishes an EMPTY delta whose
    * parquet footer carries the widened schema, so every later snapshot's
    * unionByName surfaces the new columns — nulls for pre-evolution
    * commits, the same read path batches with extra columns already use
    * (oracle `s34`) — and a fresh relation reports the widened schema.
    * O(1): no data rewrite at any table size. Flagged insert-only (no
    * keys — it can never force a merge shuffle). */
  def addColumns(newCols: Seq[org.apache.spark.sql.types.StructField]): MorTable = {
    require(newCols.nonEmpty, "addColumns: no columns given")
    // clashes WITHIN the new set too: the SQL ADD COLUMNS reroute bypasses
    // Spark's SchemaUtils duplicate check, and (x INT, x STRING) would
    // otherwise publish a widened schema with duplicate field names
    val dupNew = newCols.groupBy(_.name.toLowerCase)
      .collect { case (_, fs) if fs.size > 1 => fs.head.name }
    require(dupNew.isEmpty,
      s"addColumns: duplicate column name(s) in the new set: ${dupNew.mkString(", ")}")
    require(timeline().nonEmpty,
      "addColumns needs an existing table (create it with a first write)")
    val cur = read().schema
    val clash = newCols.map(_.name)
      .filter(n => cur.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty,
      s"addColumns: column(s) already exist: ${clash.mkString(", ")}")
    val widened = org.apache.spark.sql.types.StructType(
      cur.fields ++ newCols.map(_.copy(nullable = true)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], widened)
    commitDelta(CommitRows.withMeta(empty, keyCols, deleted = false), batchId = -1L,
      insertOnly = true)
    this
  }

  /** Sparse/partial-image upsert — the Hudi `PartialUpdateAvroPayload`
    * analog (the CDC shape where an update carries only the changed
    * columns): NULL data columns in the batch mean "keep the current
    * value", and the batch may carry any SUBSET of the schema (plus the
    * key) — absent columns are padded as keep-current. One key equi-join
    * against the KEY-PRUNED snapshot (see [[mergeInto]]'s scale note —
    * bloom/range file pruning for bounded batches, scan-and-join past the
    * cap) resolves each partial row to a full after-image (AQE broadcasts
    * the typical small batch), then the commit is O(|batch|) — the
    * untouched table is never read past the probe-hit files nor rewritten.
    * Unmatched keys insert as-is (their nulls stay null). `batch` must be
    * key-distinct (the mergeInto cardinality rule) and the table
    * non-empty (a partial image of nothing is meaningless). */
  def upsertPartial(batch: DataFrame, batchId: Long = -1L): MorTable = {
    require(timeline().nonEmpty, "upsertPartial needs an existing table")
    val schema = snapshotSchema()
    val dataCols = schema.fields.map(_.name).toSeq
    require(keyCols.forall(batch.columns.contains),
      s"upsertPartial: batch is missing key columns ${keyCols.filterNot(batch.columns.contains).mkString(", ")}")
    require(batch.columns.forall(dataCols.contains),
      s"upsertPartial: batch has unknown columns ${batch.columns.filterNot(dataCols.contains).mkString(", ")}")
    val (src, target) = mergeTarget(batch,
      "upsertPartial: batch has duplicate keys (cardinality violation)")
    val padded = schema.fields.filterNot(f => src.columns.contains(f.name))
      .foldLeft(src)((df, f) => df.withColumn(f.name, lit(null).cast(f.dataType)))
    val joined = padded.alias("s").join(target.alias("t"),
      keyCols.map(k => col(s"s.$k") === col(s"t.$k")).reduce(_ && _), "left")
    val resolved = joined.select(dataCols.map { c =>
      if (keyCols.contains(c)) col(s"s.$c").as(c)
      else coalesce(col(s"s.$c"), col(s"t.$c")).as(c)
    }: _*)
    upsertDistinct(resolved, batchId)
  }

  private def dedupBatch(batch: DataFrame, order: Seq[Column]): DataFrame =
    if (order.isEmpty) batch
    else CommitRows.latestPerKey(batch, keyCols.map(col), order.map(_.desc))

  private def commitDelta(df: DataFrame, batchId: Long,
                          insertOnly: Boolean = false): Unit = synchronized {
    // the initial load of an empty table is trivially insert-only (every
    // key is new), so first commits get the merge-skip flag for free —
    // provided the write path deduped the batch (callers pass a per-key
    // collapsed batch; applyChangelog's LWW window or upsert's dedupBatch)
    val l = commitLog.listing()
    if (commitLog.isCommitted(l, batchId)) return // replayed micro-batch — exactly-once no-op
    // no published instant AND no concurrent claim → nothing this load
    // could collide with
    val firstCommit = l.instants.isEmpty && l.pending("delta").isEmpty
    // the claim's lease keeps its marker fresh for the whole write (a
    // slow write is never taken for a crash orphan), and a throw before
    // the publish — a FAIL-mode refusal included — removes the claimed
    // dir and the marker: the timeline never saw the commit
    commitLog.commit("delta", seq => Some(deltaDir(seq))) { seq =>
      val now = System.currentTimeMillis()
      // FAIL-mode expectations count violations on the commit write itself
      val (checked, guard) = expectations.guard(df)
      val out0 = CommitRows.stamp(checked, seq, now)
      // bound files-per-commit (write.tasks). For a batch that is nothing
      // but narrow ops over already-materialized blocks (the micro-batch
      // shape: a pinned changelog slice projected into the envelope), a
      // shuffle-free coalesce gives the SAME write parallelism as the hash
      // repartition with one exchange fewer — at a 1-min commit cadence
      // that exchange is a pure driver-job tax (AQE materializes each one
      // as its own stage job). Heavy un-materialized plans keep the
      // repartition, which bounds ONLY the write stage, never the upstream
      // compute's parallelism.
      val out =
        if (writePartitions > 0 && MorTable.narrowOverMaterialized(out0.queryExecution.optimizedPlan))
          out0.coalesce(writePartitions)
        else if (writePartitions > 0) out0.repartition(writePartitions, col("_record_key"))
        else out0
      out.write.mode("overwrite").parquet(s"$path/delta/$seq")
      guard.refuseIfViolated(s"commit $seq")
      // the writer knows the exact on-disk schema: register the commit dir's
      // relation so no later scan pays the footer-inference job (scanDir)
      cacheScan(s"$path/delta/$seq",
        spark.read.schema(out0.schema).parquet(MorTable.globSafe(s"$path/delta/$seq")))
      (Instant(seq, "delta", batchId, now, insertOnly = insertOnly || firstCommit), ())
    }
    if (autoCompact) maybeCompact()
  }

  // ---------------------------------------------------------------- reads

  /** R1/S11 — snapshot query: latest base ⟕ replay of newer deltas,
    * last-write-wins by `_commit_seqno` (zpln:421 semantics). */
  def snapshot(): DataFrame = snapshotOf(timeline())

  /** Time-travel read: the table as of commit `asOfSeq` (inclusive) —
    * replays only instants with seq ≤ asOfSeq, like a Hudi
    * `as.of.instant` query. Compaction keeps old delta files, so past
    * snapshots stay readable until a cleaner is added. */
  def snapshotAt(asOfSeq: Long): DataFrame =
    snapshotOf(timeline().filter(_.seq <= asOfSeq))

  /** `read()` as of commit `asOfSeq` (no metadata columns). */
  def readAt(asOfSeq: Long, values: Seq[String]): DataFrame = {
    wholeTable(values)
    dropMeta(snapshotAt(asOfSeq))
  }

  /** Snapshot as-of just before `batchId` landed — the recovery read for
    * multi-table exactly-once (a replayed batch must see pre-batch state
    * even if this table already committed it). Requires `autoCompact=false`
    * so no compaction can bake the excluded delta into the base. */
  def snapshotExcludingBatch(batchId: Long): DataFrame =
    snapshotOf(timeline().filter(_.batchId != batchId))

  /** Live deltas for a snapshot over `tl`: newer than the last compact,
    * PLUS published stragglers the compact recorded as unfolded (claimed
    * but unpublished when its base was staged — see [[Instant.unfolded]]). */
  private def liveDeltas(tl: Seq[Instant]): (Option[Instant], Seq[Instant]) = {
    val lastCompact = tl.filter(_.kind == "compact").lastOption
    val deltas = tl.filter(i => i.kind == "delta" &&
      (i.seq > lastCompact.map(_.seq).getOrElse(0L) ||
        lastCompact.exists(_.unfolded.contains(i.seq))))
    (lastCompact, deltas)
  }

  /** Last-write-wins over commit rows: the highest `_commit_seqno` per key. */
  private def lwwLatest(df: DataFrame): DataFrame =
    CommitRows.latestPerKey(df, Seq(col("_record_key")), Seq(col("_commit_seqno").desc))

  private def snapshotOf(tl: Seq[Instant]): DataFrame =
    snapshotMerged(tl).filter(!col("_deleted"))

  /** Physical base location of a compact instant: the managed
    * `base/<seq>` dir, or the external source dir for a zero-copy
    * bootstrap commit ([[bootstrap]]). */
  private def baseDirOf(c: Instant): String =
    c.bootstrapDir.getOrElse(s"$path/base/${c.seq}")

  /** Base scan of a compact instant, meta columns guaranteed. Managed
    * bases carry them on disk; a bootstrap base is the user's original
    * parquet (no lake columns), so they are SYNTHESIZED as projections
    * over the scan — `_record_key` from the key columns, every row live,
    * the whole commit one seqno. Pure narrow projections: data-column
    * filters still reach the parquet scan pushed (only `_record_key`
    * predicates lose pushdown until the first real compaction rewrites
    * the base managed — the same freshness-vs-layout trade Hudi's
    * METADATA_ONLY bootstrap makes before its first clustering). */
  private def baseScanOf(c: Instant): DataFrame = c.bootstrapDir match {
    case Some(d) if c.bootstrapMeta =>
      // shallow CLONE base: another table's compacted base — keys and
      // tombstones are real on disk; seqno/time REBASED to this instant
      // so the clone's own deltas (fresh local seqs) outrank adopted rows
      CommitRows.stamp(scanDir(d), c.seq, c.commitMs)
    case Some(d) =>
      // a partitioned-bootstrap child's external files follow standard
      // Hive layout — the partition value lives only in the directory
      // name — so the recorded (col, value, type) is synthesized FIRST
      // (the key concat below may include it; compaction bakes it into
      // the managed base the parent's multi-dir scan expects)
      val raw = c.bootstrapPart match {
        case Some((pc, pv, pt)) => scanDir(d).withColumn(pc, lit(pv).cast(pt))
        case None => scanDir(d)
      }
      CommitRows.stamp(CommitRows.withMeta(raw, keyCols, deleted = false), c.seq, c.commitMs)
    case None => scanDir(s"$path/base/${c.seq}")
  }

  /** base ⟕ live deltas, LWW by `_commit_seqno` — tombstones RETAINED
    * (compaction stages through this; readers filter `_deleted` last).
    * `keyFilter` is applied to every commit scan BEFORE the union, so it
    * reaches parquet as a pushed filter; sound because LWW per key is
    * independent of other keys. */
  private def snapshotMerged(tl: Seq[Instant],
                             keyFilter: Option[Column] = None,
                             baseFiles: Option[Seq[String]] = None,
                             baseOnlyFilter: Option[Column] = None,
                             /** Post-union / pre-window restriction (the
                               * scan-and-join key probe): sound for any
                               * per-key-closed predicate — LWW per key is
                               * independent of other keys. */
                             restrict: Option[DataFrame => DataFrame] = None): DataFrame = {
    if (tl.isEmpty)
      throw new IllegalStateException(s"MorTable at $path has no commits")
    val (lastCompact, deltas) = liveDeltas(tl)
    // baseFiles: listing-level file skip (manifest key-bounds pruning) —
    // Some(subset) scans only those base files; Some(Nil) proves no base
    // file intersects, kept as a schema-only scan the optimizer folds to
    // an empty relation
    val baseScan0 = lastCompact.toSeq.map { c =>
      // a bootstrap base has no manifest, so no pruning path can ever
      // hand a file subset for it — scan it whole with synthesized meta
      if (c.bootstrapDir.isDefined) baseScanOf(c)
      else baseFiles match {
        case Some(sel) if sel.isEmpty =>
          scanDir(s"$path/base/${c.seq}").filter(lit(false))
        case Some(sel) => spark.read.parquet(MorTable.globSafe(sel): _*)
        case None => scanDir(s"$path/base/${c.seq}")
      }
    }
    // baseOnlyFilter: pushed to the BASE scan only (row-group skipping on
    // a clustered layout); safe for MUTABLE predicate columns because a
    // filtered-out base row either has no delta (its live values decided
    // the filter) or loses last-write-wins to the unfiltered delta anyway.
    // CALLER CONTRACT: that LWW argument requires every live delta to
    // outrank every base row — FALSE when the last compact carries
    // unfolded stragglers (base seqnos can exceed a straggler's seq), so
    // callers must pass None then (see readForColRanges). Callers re-apply
    // the predicate post-merge.
    val baseScan = baseOnlyFilter match {
      case Some(f) => baseScan0.map(_.filter(f))
      case None => baseScan0
    }
    val parts0 = baseScan ++
      deltas.map(d => scanDir(s"$path/delta/${d.seq}"))
    val parts = keyFilter match {
      case Some(f) => parts0.map(_.filter(f))
      case None => parts0
    }
    // allowMissingColumns: commits written before a column was added read
    // back with nulls for it (additive schema evolution, as Hudi allows)
    val unioned0 = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    val unioned = restrict.map(_(unioned0)).getOrElse(unioned0)
    // The merge window exists to pick the latest version per key ACROSS
    // sources. Skip its full-table shuffle when the sources are provably
    // key-disjoint: a single source (base after compaction, or one deduped
    // delta commit), or ALL live deltas flagged insert-only — an insert's
    // key is new by contract, so no key appears twice across base+deltas
    // (a base tombstone for a re-inserted key is dropped by the reader's
    // `_deleted` filter, never shadowing the newer insert).
    if (parts.size == 1 || deltas.forall(_.insertOnly)) unioned
    else lwwLatest(unioned)
  }

  /** Incremental query (the Hudi incremental-pull analog): the net effect
    * of all delta commits with seq > `sinceSeq` — latest image per touched
    * key, tombstones included (`_deleted`=true rows tell the consumer what
    * vanished). Feed a downstream pipeline exactly what changed without
    * rescanning the table. Caveat (inherent to OCC late publish): a
    * straggler commit that publishes with a seq BELOW a consumer's
    * already-advanced `sinceSeq` is not re-delivered. */
  def readIncremental(sinceSeq: Long, toSeq: Long = Long.MaxValue): DataFrame = {
    val deltas = timeline().filter(i =>
      i.kind == "delta" && i.seq > sinceSeq && i.seq <= toSeq)
    if (deltas.isEmpty) return snapshot().limit(0)
    val parts = deltas.map(d => scanDir(s"$path/delta/${d.seq}"))
    val unioned = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    if (parts.size == 1) unioned else lwwLatest(unioned)
  }

  /** CDC read (the Hudi cdc-query analog): net ROW-LEVEL CHANGES in the
    * commit range (fromSeq, toSeq], classified `op` ∈ I/U/D with both
    * images — the data columns carry the post-range image (tombstone
    * nulls for D), `before_<col>` columns the pre-range image (nulls for
    * I). A key inserted AND deleted inside the range nets out and is not
    * emitted; an upsert rewriting identical values still reports U (net
    * of commits, not a value diff — Hudi's cdc semantics).
    *
    * Cost shape: one window over the RANGE'S deltas (O(changes)) plus the
    * pre-range snapshot restricted by a semi-join to touched keys before
    * the outer join — changed-key cost, never a table rescan, so a
    * downstream consumer can turn this table into a changelog source at
    * any scale. */
  def readChangelog(fromSeq: Long, toSeq: Long, values: Seq[String]): DataFrame = {
    wholeTable(values)
    val dataCols = snapshotSchema().fieldNames.toSeq
    val deltas = timeline().filter(i =>
      i.kind == "delta" && i.seq > fromSeq && i.seq <= toSeq)
    def withBeforeCols(df: DataFrame, present: Boolean): DataFrame =
      dataCols.foldLeft(df.withColumn("_before_present", lit(present))) { (d, c) =>
        if (present) d.withColumn(s"before_$c", col(c)) else d
      }
    val out =
      if (deltas.isEmpty) {
        withBeforeCols(snapshot().limit(0), present = true)
          .withColumn("op", lit(""))
      } else {
        val parts = deltas.map(d => scanDir(s"$path/delta/${d.seq}"))
        val unioned = parts.reduce(_.unionByName(_, allowMissingColumns = true))
        val net = if (parts.size == 1) unioned else lwwLatest(unioned)
        val beforeTl = timeline().filter(_.seq <= fromSeq)
        val before =
          (if (beforeTl.isEmpty) snapshot().limit(0) else snapshotOf(beforeTl))
            .join(net.select("_record_key").distinct(), Seq("_record_key"), "left_semi")
        val b = before.select(
          col("_record_key") +: lit(true).as("_before_present") +:
            dataCols.map(c => col(c).as(s"before_$c")): _*)
        net.join(b, Seq("_record_key"), "left_outer")
          .withColumn("_before_present", coalesce(col("_before_present"), lit(false)))
          .withColumn("op",
            when(col("_deleted"),
              when(col("_before_present"), lit("D")).otherwise(lit(null)))
              .otherwise(when(col("_before_present"), lit("U")).otherwise(lit("I"))))
          .filter(col("op").isNotNull)
      }
    out.select(col("op") +: (dataCols.map(col) ++
      dataCols.map(c => col(s"before_$c"))): _*)
  }

  /** Live on-disk bytes (latest base + live delta files) — the planner
    * statistic behind [[graft.mor.MorRelation]]'s `sizeInBytes`: without
    * it a catalog mor table defaults to "infinite" and a small dimension
    * NEVER broadcasts in SQL joins. Compressed parquet UNDERestimates
    * in-memory size, which composes safely with Spark's conservative
    * broadcast threshold. One FS listing per live dir; 0 for an empty
    * table. */
  def liveBytes(): Long = {
    val (baseDir, deltaDirs) = liveScanDirs()
    (baseDir.toSeq ++ deltaDirs).map { d =>
      try fs.listStatus(new Path(d))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum
  }

  /** Planner ROW-COUNT statistic: live physical rows (base + live deltas,
    * retained tombstones and superseded versions included — a slight,
    * safe-direction overestimate of the merged cardinality). The base
    * total comes from ONE manifest-header field (written with the stats
    * pass); live deltas — few by the compaction cadence — read parquet
    * footer record counts driver-side. None when the count would need
    * unbounded driver work (pre-rows manifests, or a never-compacted
    * table past the footer cap) — callers fall back to bytes-only stats,
    * never a job. */
  def liveRowCount(): Option[Long] = {
    val tl = timeline()
    if (tl.isEmpty) return Some(0L)
    val (lastCompact, deltas) = liveDeltas(tl)
    val base: Option[Long] = lastCompact match {
      case Some(c) =>
        manifestHeader(c.seq).map(_.rows).filter(_ >= 0L)
          .orElse(footerRowCount(baseDirOf(c)))
      case None => Some(0L)
    }
    deltas.foldLeft(base) { (acc, d) =>
      for (a <- acc; r <- footerRowCount(s"$path/delta/${d.seq}")) yield a + r
    }
  }

  /** EXACT snapshot row count from ONE manifest-header field — the
    * metadata-only COUNT(*) source (the Delta/Hudi "count from stats"
    * optimization, the free answer over 100 TB). Some ONLY when the
    * metadata provably equals the snapshot count: the live state is
    * exactly one MANAGED, fully-folded compact with NO live deltas (a
    * delta's rows may update, insert, or tombstone — its footer count
    * says nothing about the merged cardinality), no unfolded stragglers,
    * and a round-13+ manifest that recorded the non-tombstone total.
    * Everything else fails CLOSED to the real scan. */
  def exactLiveRowCount(values: Seq[String]): Option[Long] = {
    wholeTable(values)
    val tl = timeline()
    if (tl.isEmpty) return None // loud-read contract: empty table ≠ count 0
    val (lastCompact, deltas) = liveDeltas(tl)
    lastCompact
      .filter(c => deltas.isEmpty && c.unfolded.isEmpty && c.bootstrapDir.isEmpty)
      .flatMap(c => manifestHeader(c.seq).map(_.liveRows).filter(_ >= 0L))
  }

  /** Planner COLUMN-NDV statistics: table-level HLL distinct-count
    * estimates per declared stat column, read from the last compaction's
    * manifest header — ONE cached header field, no job (the estimate rode
    * the compaction stats pass as an Observation). Empty before the first
    * manifest, for pre-round-11 manifests, or when no stat columns are
    * declared. An ESTIMATE at the compaction boundary (±1.6%, live deltas
    * not folded in) — exactly the accuracy class CBO selectivity wants. */
  def colNdv(): Map[String, Long] = {
    val (lastCompact, _) = liveDeltas(timeline())
    lastCompact.flatMap(c => manifestHeader(c.seq)).map(_.ndv).getOrElse(Map.empty)
  }

  /** Table-level (min, max) per stat column from the same header —
    * base-boundary values like [[colNdv]] (live deltas can extend the
    * true range; plan estimates only). */
  def colBounds(): Map[String, (Double, Double)] = {
    val (lastCompact, _) = liveDeltas(timeline())
    lastCompact.flatMap(c => manifestHeader(c.seq)).map { h =>
      h.colMin.keySet.intersect(h.colMax.keySet)
        .map(c => c -> (h.colMin(c), h.colMax(c))).toMap
    }.getOrElse(Map.empty)
  }

  /** This table's NDV-bearing stats relation, if any: (stats dir, stat
    * columns) for the last compact whose manifest carries the HLL
    * register columns (round-11+ manifests — the `ndv` header field
    * witnesses them). The per-CHILD half of the partitioned register
    * merge ([[PartitionedMorTable.colNdv]]): estimates can't be combined
    * across children, registers can (slot-max = HLL union). */
  private[lake] def ndvStatsSource(): Option[(String, Seq[String])] = {
    val (lastCompact, _) = liveDeltas(timeline())
    lastCompact.flatMap(c => manifestHeader(c.seq).filter(_.ndv.nonEmpty)
      .map(h => (s"$path/manifest/stats/${c.seq}", h.statCols)))
  }

  /** Sum of parquet footer record counts under `dir`, driver-side
    * (parquet-hadoop, no Spark job); None past the file cap — bounded
    * driver work by construction. */
  private def footerRowCount(dir: String, cap: Int = 256): Option[Long] = {
    val files =
      try fs.listStatus(new Path(dir)).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
      catch { case _: java.io.FileNotFoundException => return Some(0L) }
    if (files.size > cap) return None
    Some(files.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum)
  }

  /** The directories a snapshot read of this table must scan, given the
    * current timeline: (latest base dir if any, live delta dirs). Lets
    * [[PartitionedMorTable]] assemble ONE multi-directory parquet scan
    * across all children instead of per-child plan unions — the plan stays
    * O(1) in partition count. */
  private[lake] def liveScanDirs(): (Option[String], Seq[String]) = {
    val (lastCompact, deltas) = liveDeltas(timeline())
    (lastCompact.map(baseDirOf),
      deltas.map(d => s"$path/delta/${d.seq}"))
  }

  /** This table's read-optimized scan dir (the last compacted base), if
    * any — the per-child half of [[PartitionedMorTable.readOptimized]]'s
    * one multi-dir scan. A meta-LESS bootstrap base cannot be served
    * here: the external files carry no lake meta columns, so pooling
    * them into the parent's one multi-dir scan would silently misread —
    * refuse loudly (unreachable today: [[bootstrap]] only publishes onto
    * empty standalone tables; the guard is for whoever changes that). A
    * CLONED base ([[Instant.bootstrapMeta]]) is fine: its files carry
    * the meta columns on disk, and RO reads have no LWW to confuse with
    * the un-rebased source seqnos. Unpartitioned RO reads synthesize /
    * rebase via [[baseScanOf]] instead ([[snapshotReadOptimized]]). */
  private[lake] def roScanDir(): Option[String] =
    liveDeltas(timeline())._1.map { c =>
      require(c.bootstrapDir.isEmpty || c.bootstrapMeta,
        s"read-optimized multi-dir scan over a meta-less BOOTSTRAP base " +
          s"($path seq ${c.seq}) — compact() first")
      c.bootstrapDir.getOrElse(s"$path/base/${c.seq}")
    }

  /** All published delta dirs (incremental / CDC range reads scan these
    * with a row-level `_commit_seqno` filter; parquet min/max stats skip
    * untouched files). */
  private[lake] def allDeltaDirs(): Seq[String] =
    timeline().filter(_.kind == "delta").map(d => s"$path/delta/${d.seq}")

  /** Adopted CLONE base dirs ([[Instant.bootstrapMeta]]) still on the
    * timeline — the rows a partitioned clone's time travel must replay
    * alongside the delta dirs (they carry the raw pre-clone seqnos; no
    * delta dir holds them). Empty for every non-clone table. */
  private[lake] def cloneBaseDirs(): Seq[String] =
    timeline().filter(i => i.kind == "compact" && i.bootstrapMeta)
      .flatMap(_.bootstrapDir)

  /** ALL meta-less bootstrap instants still on the timeline (live or
    * since compacted away) — the rows a partitioned bootstrap's time
    * travel must replay through the parent's synthesizing scan, the
    * exact analog of [[cloneBaseDirs]] for the meta-less form (no delta
    * dir ever holds the adopted rows). Empty on every non-bootstrap
    * table. */
  private[lake] def metalessBootstrapInstants(): Seq[Instant] =
    timeline().filter(i => i.kind == "compact" && !i.bootstrapMeta &&
      i.bootstrapDir.isDefined)

  /** Snapshot restricted to the given record keys: the key predicate hits
    * EVERY scanned commit before the merge window, so it lands on the
    * parquet scans as a pushed `In(_record_key, …)` filter — row-group
    * min/max stats on the key-clustered base skip whole groups, and the
    * merge shuffle carries only matching rows. Cost is O(candidate keys ∩
    * table), never a table rescan: this is the point read an incremental
    * pipeline uses to compare a delta against current sink state
    * (`recordKeys` is micro-batch sized, collected by the caller). */
  def snapshotForKeys(recordKeys: Seq[String]): DataFrame = {
    require(recordKeys.size <= 100000,
      s"snapshotForKeys got ${recordKeys.size} keys — a literal In() this " +
        "large bloats the plan; scan-and-join instead")
    if (recordKeys.isEmpty) snapshot().limit(0)
    else {
      val tl = timeline()
      // Bloom-index file pruning (the Hudi bloom-index read analog): drop
      // base files whose per-file key filter proves NONE of the requested
      // keys present. Unconditionally sound — no straggler guard needed:
      // the key predicate already restricts every scan to the requested
      // keys, and a bloom has no false negatives, so a pruned file
      // contributes nothing to the filtered merge by construction. Files
      // absent from the blooms array (or manifests predating blooms) are
      // conservatively scanned.
      val (lastCompact, _) = liveDeltas(tl)
      val baseFiles = lastCompact.flatMap(c => bloomKeptBaseFiles(c.seq, recordKeys))
      snapshotMerged(tl, Some(col("_record_key").isin(recordKeys: _*)), baseFiles)
        .filter(!col("_deleted"))
    }
  }

  // ------------------------------------------------ sharded-manifest reads
  //
  // All pruning below runs over the manifest stats RELATION
  // (`manifest/stats/<seq>/`) in one of two regimes chosen by the header's
  // file count:
  //  - ≤ [[MorTable.smallManifestFiles]]: the stats rows are read ONCE
  //    driver-side (parquet-hadoop, no Spark job) and cached per seq —
  //    driver materialization is HARD-BOUNDED by the threshold, and
  //    repeated probes (a streaming sink's per-commit newness proof) cost
  //    zero FS reads after the first.
  //  - above: the relation is filtered CLUSTER-side and only PRUNED file
  //    NAMES are collected — per-file stats (blooms are 8 KB each) never
  //    materialize on the driver, at any file count.
  // Both start from the LISTED base files (the ground truth): a file
  // without a stats verdict is conservatively kept, never dropped.

  /** Parsed tiny manifest header, cached per seq (headers are immutable;
    * cross-handle since r14 — see MorTable.headerCacheG). */
  private def manifestHeader(seq: Long): Option[MorTable.ManifestHeader] = {
    val k = (canonTablePath, seq)
    Option(MorTable.headerCacheG.get(k)).orElse {
      val p = new Path(hPath, s"manifest/$seq.json")
      if (!fs.exists(p)) None
      else {
        val h = MorTable.parseHeader(
          new String(readFully(fs, p), StandardCharsets.UTF_8))
        h.foreach { hdr =>
          if (MorTable.headerCacheG.size > 16384) MorTable.headerCacheG.clear()
          MorTable.headerCacheG.put(k, hdr)
        }
        h
      }
    }
  }

  /** Driver-side stats rows for a SMALL manifest (regime 1) — read via
    * parquet-hadoop (no Spark job), cached per seq (cross-handle since r14;
    * newest-only PER TABLE, the same memory bound as before). */
  private def driverStats(seq: Long, hdr: MorTable.ManifestHeader): Seq[MorTable.FileStat] = {
    val tp = canonTablePath
    val k = (tp, seq)
    val hit = MorTable.statsCacheG.get(k)
    if (hit != null) hit
    else {
      val loaded = MorTable.readStatsDriverSide(fs,
        new Path(hPath, s"manifest/stats/$seq"), hdr.statCols, hdr.indexCols,
        spark.sparkContext.hadoopConfiguration)
      MorTable.statsDriverRows.addAndGet(loaded.size)
      MorTable.statsCacheG.keySet.removeIf { case (p, s) => p == tp && s != seq }
      MorTable.statsCacheG.put(k, loaded)
      loaded
    }
  }

  /** The stats relation as a DataFrame (regime 2) — through the
    * immutable-dir cache, so repeated probes of one manifest never re-pay
    * relation construction (footer inference + listing). */
  private def statsScan(seq: Long): DataFrame =
    scanDir(new Path(hPath, s"manifest/stats/$seq").toString)

  /** (base seq, stats-relation dir, file count) of the latest compact's
    * sharded manifest, if one exists — what [[PartitionedMorTable]]'s
    * parent manifest unions cluster-side instead of listing every child's
    * files on the driver. */
  private[lake] def latestManifestInfo(): Option[(Long, String, Int)] =
    liveDeltas(timeline())._1.flatMap(c => manifestHeader(c.seq).map(h =>
      (c.seq, s"$path/manifest/stats/${c.seq}", h.fileCount)))

  /** The listed base files of compact `seq` — the conservative ground
    * truth every pruner starts from (base dirs are immutable once
    * adopted, so the listing equals the manifest's view). */
  private def baseFilesOf(seq: Long): Seq[String] =
    (try fs.listStatus(new Path(hPath, s"base/$seq")).toSeq
     catch { case _: java.io.FileNotFoundException => Seq.empty })
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted

  private def fnameOf(s: String): String = s.substring(s.lastIndexOf('/') + 1)

  /** Regime-dispatching file pruner: base files of compact `seq` minus
    * those the stats PROVE skippable. `prunableDriver` decides per cached
    * row (regime 1); `prunableDf` filters the stats relation to provably
    * prunable rows (regime 2 — a null verdict must filter to false).
    * None = no sharded manifest (callers fall back to the full scan). */
  private def keptFiles(seq: Long,
                        prunableDriver: MorTable.FileStat => Boolean,
                        prunableDf: DataFrame => DataFrame): Option[Seq[String]] =
    manifestHeader(seq).map { hdr =>
      val all = baseFilesOf(seq)
      val pruned: Set[String] =
        if (hdr.fileCount <= MorTable.smallManifestFiles)
          driverStats(seq, hdr).filter(prunableDriver).map(_.fname).toSet
        else prunableDf(statsScan(seq)).select("fname")
          .collect().map(_.getString(0)).toSet
      all.filterNot(f => pruned(fnameOf(f)))
    }

  /** Base files whose key bounds intersect [mn, mx] (or [mn, mx) when
    * `hiInclusive` is false) — exact metadata, pruning can never hide a
    * real key. String order is UTF8-binary on both regimes (Spark string
    * comparison == UTF8String.compareTo). */
  private def keptByKeyRange(seq: Long, mn: String, mx: String,
                             hiInclusive: Boolean): Option[Seq[String]] = {
    def u8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    keptFiles(seq,
      st => st.mn != null && st.mx != null &&
        (u8(st.mx).compareTo(u8(mn)) < 0 ||
          (if (hiInclusive) u8(st.mn).compareTo(u8(mx)) > 0
           else u8(st.mn).compareTo(u8(mx)) >= 0)),
      df => df.filter(col("mx") < lit(mn) ||
        (if (hiInclusive) col("mn") > lit(mx) else col("mn") >= lit(mx))))
  }

  /** Bloom-index file pruning for a probe-key set: the base files of
    * compact `compactSeq` that MIGHT contain at least one of the keys
    * (per-file Bloom filters — no false negatives, so dropped files
    * provably contain none). None when no sharded manifest exists
    * (callers fall back to the full base scan); files without a bloom are
    * conservatively kept. */
  private[lake] def bloomKeptBaseFiles(compactSeq: Long,
                                       recordKeys: Seq[String]): Option[Seq[String]] = {
    graft.GraftFunctions.register(spark)
    // probe positions depend only on (keys, bits): precompute once per
    // distinct filter width, not once per (key, file)
    val posByBits = scala.collection.mutable.Map.empty[Int, Array[Array[Int]]]
    keptFiles(compactSeq,
      st => st.bloom != null && {
        val pos = posByBits.getOrElseUpdate(st.bloom.length * 8,
          graft.functions.expr.KeyBloom.positionsFor(recordKeys, st.bloom.length * 8))
        !graft.functions.expr.KeyBloom.anyMightContain(st.bloom, pos)
      },
      df => df.filter(!call_function("key_bloom_contains_any", col("bloom"),
        array(recordKeys.map(lit): _*))))
  }

  /** File-level scan set for a cross-partition point read: bloom-pruned
    * base FILES (the whole base dir when no blooms exist) plus live delta
    * dirs — what [[PartitionedMorTable.readForKeys]] unions into ONE
    * multi-path scan across children. May be empty (fresh child, or every
    * base file bloom-pruned with no live deltas). */
  private[lake] def pointScanPaths(recordKeys: Seq[String]): Seq[String] = {
    val tl = timeline()
    if (tl.isEmpty) return Nil
    val (lastCompact, deltas) = liveDeltas(tl)
    val base = lastCompact.toSeq.flatMap { c =>
      // meta-less bootstrap base: no on-disk _record_key to filter — the
      // partitioned parent routes it through its synthesizing scan; a
      // CLONED base scans whole at its external dir (meta on disk, no
      // local manifest/blooms to prune with)
      if (c.bootstrapDir.isDefined && !c.bootstrapMeta) Nil
      else bloomKeptBaseFiles(c.seq, recordKeys)
        .getOrElse(Seq(baseDirOf(c)))
    }
    base ++ deltas.map(d => s"$path/delta/${d.seq}")
  }

  /** [[snapshotForKeys]] without the lake metadata columns. */
  def readForKeys(recordKeys: Seq[String]): DataFrame =
    dropMeta(snapshotForKeys(recordKeys))

  /** The SCAN-AND-JOIN point read — [[readForKeys]] for probe sets past
    * the literal-In() cap (the form its size guard points at): `keys` is
    * a single-column DataFrame of record keys of ANY size; every commit
    * scan semi-joins it on `_record_key` BEFORE the LWW window (sound —
    * LWW per key is independent of other keys), so the merge shuffle
    * carries only matching rows. AQE broadcasts a small probe side; a
    * table-sized one degrades gracefully to a shuffled semi-join. No
    * listing-level file pruning (the probe set lives cluster-side) — use
    * [[readForKeys]] below the cap when bloom/bounds skipping matters. */
  def readForKeysOf(keys: DataFrame): DataFrame = {
    require(keys.columns.length == 1,
      s"readForKeysOf expects ONE key column, got ${keys.columns.mkString(", ")}")
    val k = keys.select(col(keys.columns.head).cast("string").as("__pk")).distinct()
    dropMeta(snapshotMerged(timeline(), restrict = Some(df =>
      df.join(k, col("_record_key") === col("__pk"), "left_semi")))
      .filter(!col("_deleted")))
  }

  /** Snapshot restricted to record keys in [lo, hi) — string order over
    * `_record_key`, compared exactly as Spark compares it (UTF8 binary).
    * Pruning happens at three levels: the latest base's per-file key
    * bounds (manifest stats) exclude whole FILES before any task runs —
    * range-partitioned compaction makes those bounds disjoint, so a
    * narrow range touches ~1 of N base files; the pushed range predicate
    * then skips row groups inside survivors (key-sorted files); deltas
    * are small and scanned with the same pushed filter. Falls back to the
    * full base scan when no manifest stats exist (pre-stats tables). */
  def snapshotForKeyRange(lo: String, hi: String): DataFrame = {
    val tl = timeline()
    val rangeF = col("_record_key") >= lit(lo) && col("_record_key") < lit(hi)
    val (lastCompact, _) = liveDeltas(tl)
    val baseFiles = lastCompact.flatMap(c =>
      keptByKeyRange(c.seq, lo, hi, hiInclusive = false))
    snapshotMerged(tl, Some(rangeF), baseFiles).filter(!col("_deleted"))
  }

  /** [[snapshotForKeyRange]] without the lake metadata columns. */
  def readForKeyRange(lo: String, hi: String, values: Seq[String]): DataFrame = {
    wholeTable(values)
    dropMeta(snapshotForKeyRange(lo, hi))
  }

  // ------------------------------------------------ record-level index
  //
  // The Hudi 1.0 record_index analog: an EXACT `_record_key → base file
  // name` relation for the latest compacted base, stored as parquet under
  // `manifest/rli/<seq>/`, key-range-partitioned and key-sorted so a
  // probe's pushed In() filter row-group-skips its way to the matching
  // postings. Where the bloom index prunes PROBABILISTICALLY (false
  // positives keep extra files, and a saturating filter keeps them all),
  // the record index PINS: a point read scans precisely the base files
  // that hold its keys — at 100 TB the difference between a handful of
  // files and whatever a 0.1%-FP bloom leaves of 10⁶ files. Soundness is
  // the bloom argument made exact: the index is built from a full scan of
  // the base, so a file not listed for key k provably does not contain k,
  // and the key predicate already restricts every scan; TOMBSTONE rows
  // are indexed too, so a retained base tombstone keeps outranking an
  // unfolded straggler's earlier image (never resurrect). The index is
  // valid only AT its exact compact seq — a reader finding no index at
  // the current boundary falls back to the bloom path (fail closed, a
  // stale index is never consulted) — and compactions REFRESH an existing
  // index automatically: minor compactions carry the carried files'
  // postings under their new names (an fname rewrite against a broadcast
  // rename map — zero byte rescan), so maintenance is O(re-merged files),
  // the same affected-only bound as the compaction itself.

  private def rliDir(seq: Long): Path = new Path(hPath, s"manifest/rli/$seq")

  /** Create (or rebuild) the record-level index at the current compaction
    * boundary. Refuses over a bootstrap/clone base — external dirs are
    * scanned whole by every pruning path ([[pointScanPaths]]); compact()
    * folds them managed first. Once built, every later compaction
    * refreshes the index ([[adoptBase]]). Deltas are never indexed: point
    * reads always scan live delta dirs (any of which may carry a key's
    * newest version), so the index only has to be exact about the
    * immutable base. */
  def buildRecordIndex(values: Seq[String]): Unit = synchronized {
    wholeTable(values)
    val (lastC, _) = liveDeltas(timeline())
    val c = lastC.getOrElse(throw new IllegalStateException(
      s"buildRecordIndex: $path has no compacted base — compact() first"))
    require(c.bootstrapDir.isEmpty,
      s"buildRecordIndex: the current boundary (seq ${c.seq}) references an " +
        "external bootstrap/clone dir; compact() folds it into a managed " +
        "base first")
    writeRecordIndex(c.seq, recordIndexRows(c.seq))
  }

  /** All (key, fname) postings of managed base `seq` — one column-pruned
    * scan, rows never visit the driver. */
  private def recordIndexRows(seq: Long): DataFrame =
    scanDir(s"$path/base/$seq").select(
      col("_record_key").as("key"),
      regexp_extract(input_file_name(), "[^/]*$", 0).as("fname"))

  /** Stage-then-rename publish of the index relation for base `seq`
    * (readers dispatch on dir EXISTENCE, so a half-written index must
    * never be visible under its final name). Idempotent per seq — the
    * relation is a pure function of the immutable base. Rows additionally
    * carry the full `file` path rebuilt from the LISTED prefix (the
    * manifest-stats recipe): a cross-partition lookup
    * ([[PartitionedMorTable.readForKeysIndexed]]) unions MANY children's
    * postings into one scan and must hand spark.read paths in the listed
    * encoding, never the input_file_name one. */
  private def writeRecordIndex(seq: Long, rows: DataFrame): Unit = {
    val staging = new Path(hPath, s".staging-rli-${System.nanoTime()}")
    val prefix = baseFilesOf(seq).headOption
      .map(f => f.substring(0, f.lastIndexOf('/') + 1))
      .getOrElse(s"$path/base/$seq/")
    rows.withColumn("file", concat(lit(prefix), col("fname")))
      .repartitionByRange(math.max(1, writePartitions), col("key"))
      .sortWithinPartitions(col("key"))
      .write.mode("overwrite").parquet(staging.toString)
    val dst = rliDir(seq)
    fs.mkdirs(dst.getParent)
    fs.delete(dst, true)
    if (!fs.rename(staging, dst))
      throw new java.io.IOException(s"record-index rename failed: $dst")
  }

  /** Carry an existing index across a compaction (best-effort from
    * [[adoptBase]], like the manifest — the timeline stays the source of
    * truth and readers fail closed on a missing index). When the new base
    * holds `carry-NNNNN-<old>` files (minor compaction's byte-for-byte
    * carries) and the previous boundary has an index, the carried files'
    * postings are REWRITTEN to their new names via a broadcast
    * metadata-sized rename map — only the re-merged files rescan. */
  private def refreshRecordIndex(newSeq: Long, prev: Option[Instant]): Unit =
    try {
      val files = baseFilesOf(newSeq)
      val carryRe = "^carry-\\d{5}-".r
      val carried = files.map(fnameOf).filter(n => carryRe.findPrefixOf(n).isDefined)
      val prevRli = prev.filter(p =>
        p.bootstrapDir.isEmpty && fs.exists(rliDir(p.seq)))
      val rows = prevRli match {
        case Some(p) if carried.nonEmpty =>
          import spark.implicits._
          val rename = carried.map(n => (carryRe.replaceFirstIn(n, ""), n))
            .toDF("__orig", "__new")
          val freshFiles = files.filter(f =>
            carryRe.findPrefixOf(fnameOf(f)).isEmpty)
          val fresh =
            if (freshFiles.isEmpty)
              Seq.empty[(String, String)].toDF("key", "fname")
            else spark.read.parquet(MorTable.globSafe(freshFiles): _*).select(
              col("_record_key").as("key"),
              regexp_extract(input_file_name(), "[^/]*$", 0).as("fname"))
          val carriedRows = scanDir(rliDir(p.seq).toString)
            .join(broadcast(rename), col("fname") === col("__orig"))
            .select(col("key"), col("__new").as("fname"))
          fresh.unionByName(carriedRows)
        case _ => recordIndexRows(newSeq)
      }
      writeRecordIndex(newSeq, rows)
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"record-index refresh failed for $path base $newSeq", e)
    }

  /** True when a record-level index exists for ANY boundary — the signal
    * [[adoptBase]] uses to keep it maintained across compactions. */
  private def recordIndexEnabled(): Boolean =
    try fs.listStatus(new Path(hPath, "manifest/rli")).nonEmpty
    catch { case _: java.io.FileNotFoundException => false }

  /** True when the record-level index exists at the CURRENT compaction
    * boundary — what [[readForKeysIndexed]] dispatches on. */
  def hasRecordIndex(): Boolean = freshRliDir().isDefined

  /** Secondary-bloom index columns PUBLISHED at the current compaction
    * boundary (the manifest header's declaration — what
    * [[readForColEquals]] can actually prune on; a declared-but-not-yet-
    * compacted column set is not listed). */
  def indexedColumns(): Seq[String] =
    liveDeltas(timeline())._1
      .flatMap(c => manifestHeader(c.seq)).map(_.indexCols).getOrElse(Nil)

  /** The index dir when it is FRESH (exists at the current managed
    * compaction boundary) — what the partitioned cross-child lookup
    * unions; None = this child point-reads through the bloom path. */
  private[lake] def freshRliDir(): Option[String] =
    liveDeltas(timeline())._1
      .filter(c => c.bootstrapDir.isEmpty && fs.exists(rliDir(c.seq)))
      .map(c => rliDir(c.seq).toString)

  /** Record-INDEXED point read: [[readForKeys]] with the base file set
    * resolved EXACTLY by the record-level index instead of
    * probabilistically by the per-file blooms — scans precisely the base
    * files that hold the probe keys, plus every live delta dir. The index
    * lookup itself is one pushed-In() scan of the key-sorted postings
    * relation; only file NAMES reach the driver, and they resolve against
    * the LISTED base dir (names are unique within it) — never by path
    * string-match (the input_file_name/listStatus encoding rule). Falls
    * back to [[readForKeys]] (fail closed) when no index exists at the
    * CURRENT compaction boundary or the boundary is an external
    * bootstrap/clone reference. */
  def readForKeysIndexed(recordKeys: Seq[String], values: Seq[String]): DataFrame = {
    wholeTable(values)
    require(recordKeys.size <= 100000,
      s"readForKeysIndexed got ${recordKeys.size} keys — a literal In() " +
        "this large bloats the plan; scan-and-join instead")
    if (recordKeys.isEmpty) return readForKeys(recordKeys)
    val tl = timeline()
    val (lastC, _) = liveDeltas(tl)
    // the lookup is best-effort like the refresh: a concurrent
    // compaction+clean can delete the rli dir between the exists check and
    // the postings scan — fall back to the bloom path instead of failing
    // the read (the answer is identical, only the file pinning is lost)
    val pinned: Option[Seq[String]] = try {
      lastC.flatMap { c =>
        if (c.bootstrapDir.isDefined || !fs.exists(rliDir(c.seq))) None
        else {
          val hit = scanDir(rliDir(c.seq).toString)
            .filter(col("key").isin(recordKeys: _*))
            .select("fname").distinct().collect().map(_.getString(0)).toSet
          Some(baseFilesOf(c.seq).filter(f => hit(fnameOf(f))))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
    pinned match {
      case None => readForKeys(recordKeys)
      case Some(files) =>
        dropMeta(snapshotMerged(tl,
          Some(col("_record_key").isin(recordKeys: _*)), Some(files))
          .filter(!col("_deleted")))
    }
  }

  /** Snapshot without the lake metadata columns (user-facing read). */
  def read(values: Seq[String]): DataFrame = {
    wholeTable(values)
    dropMeta(snapshot())
  }

  /** READ-OPTIMIZED (RO) query view — base files ONLY, at the last
    * compaction boundary. The other half of Hudi's MOR read surface: the
    * reference registers `_rt` (realtime, base ⟕ log — [[snapshot]]) and
    * `_ro` (`HoodieParquetInputFormat`, compacted columnar data only,
    * freshness = last compaction; rds-cdc-flink-hudi-stack.ts:508-511).
    * Live deltas are EXCLUDED by definition; a never-compacted table
    * reads as empty (Hudi RO shows nothing until the first compaction
    * writes base parquet). Tombstones retained in the base (an unfolded
    * straggler kept them) are filtered like the realtime reader.
    *
    * Scale: this is the cheap read — ONE pure parquet scan, no delta
    * union, no LWW merge window (the compacted base holds ≤1 row per
    * key), so every filter/projection reaches the scan untouched. The
    * analytics-over-latency trade Hudi documents. */
  def snapshotReadOptimized(): DataFrame = {
    val tl = timeline()
    if (tl.isEmpty)
      throw new IllegalStateException(s"MorTable at $path has no commits")
    liveDeltas(tl)._1 match {
      case Some(c) => baseScanOf(c).filter(!col("_deleted"))
      case None => snapshotMerged(tl).filter(lit(false)) // pre-compaction: RO is empty
    }
  }

  /** [[snapshotReadOptimized]] without the lake metadata columns. */
  def readOptimized(values: Seq[String]): DataFrame = {
    wholeTable(values)
    dropMeta(snapshotReadOptimized())
  }

  /** `read()` as-of just before `batchId` (see snapshotExcludingBatch). */
  def readExcludingBatch(batchId: Long): DataFrame =
    dropMeta(snapshotExcludingBatch(batchId))

  private def dropMeta(df: DataFrame): DataFrame =
    df.drop(CommitRows.metaCols: _*)

  /** Data schema for tombstone padding. Derived from the full snapshot
    * plan on purpose: schema analysis only reads parquet footers (no jobs),
    * and the union-by-name covers commits with NARROWER schemas (staged
    * partitioned deletes write key+meta-only deltas, so no single file is
    * guaranteed to carry every column). */
  private def snapshotSchema() = read().schema

  // ---------------------------------------------------------------- compaction

  /** T4 — `num_or_time` trigger (zpln:292: `compaction.delta_commits` /
    * `compaction.delta_seconds` / `'compaction.trigger.strategy'='num_or_time'`). */
  def maybeCompact(nowMs: Long = System.currentTimeMillis()): Boolean = {
    val due = compactionDue(nowMs)
    if (due) compact()
    due
  }

  /** True iff the num_or_time trigger would fire (no side effects). */
  private[lake] def compactionDue(nowMs: Long = System.currentTimeMillis()): Boolean = {
    val tl = timeline()
    val sinceCompact = tl.filter(_.seq > tl.filter(_.kind == "compact").lastOption.map(_.seq).getOrElse(0L))
    val deltas = sinceCompact.filter(_.kind == "delta")
    deltas.size >= compactionDeltaCommits ||
      deltas.headOption.exists(d => nowMs - d.commitMs >= compactionDeltaSeconds * 1000L)
  }

  /** What a compaction must stage: the merged snapshot DataFrame and the
    * delta seqs folded into it. Tombstones are DROPPED from the staged
    * base when no live claimed-but-unpublished delta is outstanding (the common
    * case — today's behavior); while a straggler IS outstanding they are
    * retained, because the straggler's rows may carry a lower
    * `_commit_seqno` than a folded delete and must still lose the LWW
    * merge when replayed (dropping the tombstone would resurrect the key).
    * The next straggler-free compaction drops them again.
    *
    * `forceKeepTombstones`: [[PartitionedMorTable]] passes true while a
    * live PARENT-level claim exists — a parent writer stages child data
    * before any child-level marker exists, so the child listing alone
    * cannot see it. An orphaned claim (past [[Timeline.leaseMs]]) counts
    * for neither. */
  private[lake] def prepareCompact(forceKeepTombstones: Boolean = false,
                                   baseFiles: Option[Seq[String]] = None,
                                   onlyDeltas: Option[Set[Long]] = None): MorTable.CompactPrep = {
    // markers listed BEFORE the timeline read: a delta publishing between
    // the two shows up in the timeline (→ folded); later claims allocate
    // past the compact seq and are replayed as ordinary newer deltas
    val pending = commitLog.pending("delta")
    val tl = timeline()
    // onlyDeltas: the minor path folds EXACTLY the deltas its plan saw — a
    // delta that published after the plan's listing may touch a CARRIED
    // file's keys, and folding it against the restricted base would leave
    // the stale carried row next to the merged one (a duplicate-key base)
    // or drop a tombstone an unfolded replay still needs. Unplanned deltas
    // are treated like stragglers instead: excluded from the merge, kept
    // outstanding (tombstones retained), and recorded as `unfolded` by
    // adoptBase so readers replay them on top of the new base.
    val excluded = onlyDeltas.map { planned =>
      tl.filter(i => i.kind == "delta" && !planned(i.seq)).map(_.seq).toSet
    }.getOrElse(Set.empty)
    val tlMerge = tl.filterNot(i => excluded(i.seq))
    val (lastC, replayed) = liveDeltas(tlMerge)
    val folded = replayed.map(_.seq).toSet
    val outstanding =
      (pending ++ excluded ++ lastC.map(_.unfolded).getOrElse(Nil)).toSet -- folded --
        tlMerge.map(_.seq).toSet
    // baseFiles: minor compaction restricts the merge to the AFFECTED base
    // files (plus the planned live deltas) — the carried-over remainder
    // never enters the shuffle
    val snap = snapshotMerged(tlMerge, baseFiles = baseFiles)
    val df = if (outstanding.isEmpty && !forceKeepTombstones)
      snap.filter(!col("_deleted")) else snap
    MorTable.CompactPrep(df, folded)
  }

  /** MINOR (affected-only) compaction — the write-amplification control a
    * 100 TB table needs: `compact()` rewrites the WHOLE base every cadence
    * tick even when the deltas touched 0.1% of keys. compactMinor folds
    * the live deltas into ONLY the base files whose manifest key range
    * intersects a delta key; every other base file is carried into the new
    * base byte-for-byte — an FS-level copy with NO parquet decode, LWW
    * shuffle, or re-encode (on an object store this is a server-side COPY:
    * metadata cost, the bytes never transit compute). The affected-file
    * set is computed distributed — delta keys joined against the
    * broadcast per-file bounds — and only FILE NAMES come to the driver.
    * Correctness is unchanged: a carried file is provably key-disjoint
    * from every delta (its range matched none), so the merged subset plus
    * the carried subset is still one key-unique base.
    *
    * Falls back to the full `compact()` when there is no base, no manifest
    * stats (pre-stats vintage), or every file is affected. */
  def compactMinor(): Unit = synchronized {
    minorPlan() match {
      case None => compact()
      case Some(MorTable.MinorPlan(affected, carried, planned)) =>
        val prep = prepareCompact(baseFiles = Some(affected),
          onlyDeltas = Some(planned))
        val out = if (writePartitions > 0)
          prep.df.repartitionByRange(writePartitions, col("_record_key")) else prep.df
        val staging = new Path(hPath, s".staging-compact-${System.nanoTime()}")
        out.sortWithinPartitions(col("_record_key"))
          .write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#_record_key", "true")
          .parquet(staging.toString)
        copyCarried(carried, staging)
        adoptBase(staging, prep.foldedDeltaSeqs, Some(prep.df.schema))
    }
  }

  /** Minor-compaction planning: (affected base files, carried base files,
    * the delta seqs this plan accounts for), or None when minor compaction
    * doesn't apply — no base, no manifest stats (pre-stats vintage), no
    * live deltas, or every file affected (callers fall back to the full
    * [[compact]]). The affected set is computed distributed (delta keys ×
    * broadcast per-file bounds); only file names come to the driver. The
    * planned seq set MUST be passed back as `onlyDeltas` — deltas that
    * publish after this listing are not covered by the affected set. */
  private[lake] def minorPlan(): Option[MorTable.MinorPlan] = {
    val (lastC, deltas0) = liveDeltas(timeline())
    if (lastC.isEmpty || deltas0.isEmpty) return None
    val seq = lastC.get.seq
    val hdr = manifestHeader(seq).getOrElse(return None)
    val all = baseFilesOf(seq)
    // byte-carry is sound only when EVERY base file has a stats verdict —
    // a file outside the stats pass could hold delta keys unobserved
    if (all.isEmpty || all.size != hdr.fileCount) return None
    import spark.implicits._
    val deltaKeys = deltas0.map(d => scanDir(s"$path/delta/${d.seq}")
      .select(col("_record_key"))).reduce(_.unionByName(_)).distinct()
    // bounds relation from the sharded stats (regime-matched: bounded
    // driver rows for small manifests, a stats-relation scan above)
    val rangesDf =
      if (hdr.fileCount <= MorTable.smallManifestFiles)
        driverStats(seq, hdr).map(s => (s.fname, s.mn, s.mx)).toDF("__f", "__mn", "__mx")
      else statsScan(seq).select(col("fname").as("__f"),
        col("mn").as("__mn"), col("mx").as("__mx"))
    val affectedNames = deltaKeys.join(broadcast(rangesDf),
        col("_record_key") >= col("__mn") && col("_record_key") <= col("__mx"))
      .select("__f").distinct().collect().map(_.getString(0)).toSet
    val (affected, carried) = all.partition(f => affectedNames(fnameOf(f)))
    if (carried.isEmpty) None
    else Some(MorTable.MinorPlan(affected, carried, deltas0.map(_.seq).toSet))
  }

  /** Byte-for-byte carry of unaffected base files into a staged base dir
    * (local FS copy; server-side COPY on object stores). */
  private[lake] def copyCarried(carried: Seq[String], staging: Path): Unit =
    carried.zipWithIndex.foreach { case (f, i) =>
      val src = new Path(f)
      val dst = new Path(staging, f"carry-$i%05d-${src.getName}")
      if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
        spark.sparkContext.hadoopConfiguration))
        throw new java.io.IOException(s"minor-compaction carry copy failed: $f")
    }

  /** Merge base + logs into a new base commit. Readers before the timeline
    * rename keep seeing the old base+deltas; after it, just the new base
    * (plus any late-publishing stragglers recorded as unfolded). */
  /** Z-order clustering compaction (the Delta OPTIMIZE ZORDER BY / Hudi
    * clustering analog): instead of clustering the base on the key alone,
    * interleave the bits of each z-column's bucket index (equi-width
    * buckets over the column's observed min/max, `bits` bits each) and
    * range-partition + sort the base on that z-value. Rows close in EVERY
    * z-dimension land in the same file, so the per-file min/max the
    * manifest records for each z-column are tight in ALL dimensions at
    * once — [[readForColRanges]] then skips files at the LISTING level for
    * multi-column range predicates, where single-key clustering prunes
    * only one dimension. Costs one column-pruned stats pass over the
    * staged snapshot. Bits/interleave use literal shifts only (codegen
    * stays whole-stage). */
  def compactZOrder(zCols: Seq[String], bits: Int = 8): Unit = synchronized {
    require(zCols.nonEmpty && zCols.size * bits <= 62,
      s"z-order needs 1..${62 / bits} columns at $bits bits")
    val prep = prepareCompact()
    val nb = 1 << bits
    // observed per-column domain: one column-pruned pass over the staged
    // snapshot (tombstones carry nulls — min/max ignore them)
    val aggs = zCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"), max(col(c).cast("double")).as(s"__mx_$c")))
    val dom = prep.df.agg(aggs.head, aggs.tail: _*).head()
    val zval = zCols.zipWithIndex.map { case (c, i) =>
      val mn = Option(dom.getAs[java.lang.Double](s"__mn_$c")).fold(0.0)(_.toDouble)
      val mx = Option(dom.getAs[java.lang.Double](s"__mx_$c")).fold(0.0)(_.toDouble)
      val bucket =
        if (mx <= mn) lit(0L)
        else least(greatest(
          floor((col(c).cast("double") - lit(mn)) * lit(nb.toDouble) / lit(mx - mn)),
          lit(0.0)), lit((nb - 1).toDouble)).cast("long")
      // spread bucket bit j of column i to interleaved position j*nCols+i
      (0 until bits).map { j =>
        shiftleft(shiftright(bucket, j).bitwiseAND(lit(1L)), j * zCols.size + i)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
    val withZ = prep.df.withColumn("__z", zval)
    val out = if (writePartitions > 0)
      withZ.repartitionByRange(writePartitions, col("__z")) else withZ
    val staging = new Path(hPath, s".staging-compact-${System.nanoTime()}")
    out.sortWithinPartitions(col("__z"), col("_record_key")).drop("__z")
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#_record_key", "true")
      .parquet(staging.toString)
    statsCols = zCols // manifest adds per-file min/max for these
    adoptBase(staging, prep.foldedDeltaSeqs, Some(prep.df.schema))
  }

  /** Columns the next manifest write records per-file double min/max for
    * (set by [[compactZOrder]]; sticky so later key-compactions keep
    * publishing the same stats while the layout still reflects them). */
  @volatile private var statsCols: Seq[String] = Nil

  /** Non-key columns carrying a per-file SECONDARY bloom index in the
    * manifest (the Hudi 1.0 secondary-index analog). Set before the next
    * compaction; fresh handles inherit the set from the previous manifest
    * like [[statsCols]]. */
  @volatile private var indexCols: Seq[String] = Nil

  /** Declare secondary-index columns: every later compaction publishes a
    * per-file Bloom filter over each column's CAST-to-string values, and
    * [[readForColEquals]] prunes base files by value membership. Choose
    * high-cardinality columns where min/max ranges don't discriminate
    * (ids, urls, hashes). */
  def indexColumns(cols: Seq[String]): MorTable = {
    indexCols = cols
    this
  }

  /** Multi-column range read over a z-ordered table: live rows with
    * `lo <= col < hi` for EVERY listed column. Base files whose manifest
    * min/max don't intersect one of the ranges are excluded at the
    * LISTING level (no footer open); surviving base files get the pushed
    * range predicate (row-group skipping on the z-sorted layout). Deltas
    * are scanned UNFILTERED and win the merge as usual — a filtered base
    * row can only lose last-write-wins to them — and the range predicate
    * re-applies AFTER the merge, so updates that moved a key out of range
    * never resurrect its in-range past. Bounds are cast to each column's
    * native type for the pushed filter (pass integral bounds for integral
    * columns). */
  def readForColRanges(ranges: Seq[(String, Double, Double)]): DataFrame = {
    require(ranges.nonEmpty, "readForColRanges needs at least one (col, lo, hi)")
    val tl = timeline()
    val (lastCompact, _) = liveDeltas(tl)
    val sch = snapshotSchema()
    val rangeF = ranges.map { case (c, lo, hi) =>
      val t = sch(c).dataType
      col(c) >= lit(lo).cast(t) && col(c) < lit(hi).cast(t)
    }.reduce(_ && _)
    // Dropping a base row (via file pruning or the pushed base filter) is
    // sound only when every live delta outranks every base row in the LWW
    // merge. A compact carrying unfolded stragglers violates that: base
    // rows keep their original _commit_seqno, which can EXCEED an unfolded
    // delta's seq — dropping an out-of-range base update (or a retained
    // tombstone, whose null range cols fail rangeF) would let the
    // straggler's older in-range image win the merge: stale reads or
    // deleted-key resurrection. Fall back to the unpruned scan then; the
    // next straggler-free compact restores pruning.
    val safeToPrune = lastCompact.forall(_.unfolded.isEmpty)
    val baseFiles =
      if (!safeToPrune) None
      else lastCompact.flatMap(c => rangeKeptBaseFiles(c.seq, ranges))
    // tombstones are exempted from the pushed base filter outright (null
    // range cols would drop them); they must survive to the merge so the
    // reader's `_deleted` filter — not file layout — decides their fate
    val bof = if (safeToPrune) Some(rangeF || col("_deleted")) else None
    dropMeta(snapshotMerged(tl, keyFilter = None, baseFiles = baseFiles,
      baseOnlyFilter = bof)
      .filter(!col("_deleted")).filter(rangeF))
  }

  /** Colstats file skip for a range read: the base files of compact `seq`
    * that might hold in-range rows, or None when no stats column covers
    * any queried range (callers fall back to the whole base dir). Only
    * ranges over columns the manifest actually carries stats for can
    * prune; a file with NULL stats for a column (e.g. tombstone-only) is
    * conservatively kept — the null verdict filters to false on both
    * regimes. Shared by [[readForColRanges]] and the partitioned form's
    * per-child planning ([[colRangeScanParts]]). */
  private def rangeKeptBaseFiles(seq: Long,
      ranges: Seq[(String, Double, Double)]): Option[Seq[String]] = {
    val statCols = manifestHeader(seq).map(_.statCols).getOrElse(Nil)
    val usable = ranges.filter(r => statCols.contains(r._1))
    if (usable.isEmpty) None
    else keptFiles(seq,
      st => usable.exists { case (qc, lo, hi) =>
        (st.colMn.get(qc), st.colMx.get(qc)) match {
          case (Some(mn), Some(mx)) => mx < lo || mn >= hi
          case _ => false
        }
      },
      df => df.filter(usable.map { case (qc, lo, hi) =>
        col(s"mx_$qc") < lit(lo) || col(s"mn_$qc") >= lit(hi)
      }.reduce(_ || _)))
  }

  /** Per-child scan planning for [[PartitionedMorTable.readForColRanges]]:
    * (filterable base paths, unfilterable base paths, delta dirs).
    * Filterable = this child's base-dropping is SOUND (no unfolded
    * stragglers — the [[readForColRanges]] guard) and colstats-pruned
    * when the manifest covers a queried column; a straggler-carrying
    * child's base scans WHOLE and unfiltered instead. A meta-less
    * bootstrap base is excluded entirely (the parent routes it through
    * its synthesizing scan; its filterability is the same straggler
    * check, read off the instant by the parent). */
  private[lake] def colRangeScanParts(ranges: Seq[(String, Double, Double)])
      : (Seq[String], Seq[String], Seq[String]) = {
    val (lastCompact, deltas) = liveDeltas(timeline())
    val deltaDirs = deltas.map(d => s"$path/delta/${d.seq}")
    lastCompact match {
      case None => (Nil, Nil, deltaDirs)
      case Some(c) if c.bootstrapDir.isDefined && !c.bootstrapMeta =>
        (Nil, Nil, deltaDirs)
      case Some(c) if c.unfolded.nonEmpty =>
        (Nil, Seq(baseDirOf(c)), deltaDirs)
      case Some(c) =>
        // a CLONE base has no local manifest: rangeKeptBaseFiles returns
        // None (no usable stat cols) and the whole external dir scans —
        // still filterable (its rows rank below every local delta)
        (rangeKeptBaseFiles(c.seq, ranges).getOrElse(Seq(baseDirOf(c))),
          Nil, deltaDirs)
    }
  }

  /** Secondary-index equality read: live rows whose indexed column equals
    * one of `values` (literals of the column's native type — the pushed
    * filter stays a bare-attribute `In`, reaching parquet row groups).
    * Base files are excluded at the LISTING level when their per-file
    * secondary bloom proves none of the probe values present — bloom
    * probes use the value's Spark CAST-to-string form, the same form the
    * index was built over. Three exemptions keep it sound:
    * (1) files holding ANY retained tombstone are never pruned (a
    * tombstone's data columns are null — no bloom witnesses it, and
    * dropping it would resurrect the key through an older straggler);
    * (2) the whole optimization falls back to the full scan while the
    * last compact carries unfolded stragglers (base seqnos can outrank a
    * straggler's — the [[readForColRanges]] guard, same reasoning);
    * (3) deltas scan unfiltered and the predicate re-applies post-merge,
    * so a key whose latest image moved OUT of the probe set never
    * resurrects its old in-set image. */
  def readForColEquals(c: String, values: Seq[Any]): DataFrame = {
    require(values.nonEmpty, "readForColEquals needs at least one probe value")
    require(values.size <= 100000,
      s"readForColEquals got ${values.size} values — scan-and-join instead")
    val tl = timeline()
    val (lastCompact, _) = liveDeltas(tl)
    val eqF = col(c).isin(values: _*)
    val probes = values.map(String.valueOf)
    val safeToPrune = lastCompact.forall(_.unfolded.isEmpty)
    val baseFiles =
      if (!safeToPrune) None
      else lastCompact.flatMap(cp => secondaryKeptBaseFiles(cp.seq, c, probes))
    // tombstones exempt from the pushed filter (null data cols fail eqF)
    val bof = if (safeToPrune) Some(eqF || col("_deleted")) else None
    dropMeta(snapshotMerged(tl, keyFilter = None, baseFiles = baseFiles,
      baseOnlyFilter = bof)
      .filter(!col("_deleted")).filter(eqF))
  }

  /** Secondary-bloom file pruning: base files of compact `seq` that MIGHT
    * hold one of the probe values in indexed column `c` (tombstone-
    * holding files never prune — exemption (1) above). None when the
    * manifest declares no index on `c`. */
  private def secondaryKeptBaseFiles(seq: Long, c: String,
                                     probes: Seq[String]): Option[Seq[String]] = {
    if (!manifestHeader(seq).exists(_.indexCols.contains(c))) None
    else {
      graft.GraftFunctions.register(spark)
      val posByBits = scala.collection.mutable.Map.empty[Int, Array[Array[Int]]]
      keptFiles(seq,
        st => !st.del && st.colBloom.get(c).exists { buf =>
          val pos = posByBits.getOrElseUpdate(buf.length * 8,
            graft.functions.expr.KeyBloom.positionsFor(probes, buf.length * 8))
          !graft.functions.expr.KeyBloom.anyMightContain(buf, pos)
        },
        df => df.filter(col("del") === 0 &&
          !call_function("key_bloom_contains_any", col(s"bl_$c"),
            array(probes.map(lit): _*))))
    }
  }

  /** Per-child scan-set contribution for the PARTITIONED secondary-index
    * equality read — the [[colRangeScanParts]] twin: (secondary-bloom-
    * surviving base files (whole base when `c` is unindexed here),
    * unfilterable raw base dirs (unfolded stragglers), live delta dirs).
    * A meta-less bootstrap child contributes nothing (the parent routes
    * it through the synthesizing scan). */
  private[lake] def colEqualScanParts(c: String, values: Seq[Any])
      : (Seq[String], Seq[String], Seq[String]) = {
    val (lastCompact, deltas) = liveDeltas(timeline())
    val deltaDirs = deltas.map(d => s"$path/delta/${d.seq}")
    lastCompact match {
      case None => (Nil, Nil, deltaDirs)
      case Some(cp) if cp.bootstrapDir.isDefined && !cp.bootstrapMeta =>
        (Nil, Nil, deltaDirs)
      case Some(cp) if cp.unfolded.nonEmpty =>
        (Nil, Seq(baseDirOf(cp)), deltaDirs)
      case Some(cp) =>
        (secondaryKeptBaseFiles(cp.seq, c, values.map(String.valueOf))
          .getOrElse(Seq(baseDirOf(cp))), Nil, deltaDirs)
    }
  }

  /** Secondary-index column set of the newest manifest header below `seq`
    * that declares any — the durable source of [[indexCols]]. */
  private def previousManifestIndexCols(seq: Long): Seq[String] =
    previousHeaderCols(seq)(_.indexCols)

  /** Colstats column set of the newest manifest header below `seq` that
    * declares any — the durable source of [[statsCols]]. */
  private def previousManifestStatCols(seq: Long): Seq[String] =
    previousHeaderCols(seq)(_.statCols)

  private def previousHeaderCols(seq: Long)(
      sel: MorTable.ManifestHeader => Seq[String]): Seq[String] = {
    val dir = new Path(hPath, "manifest")
    val names =
      try fs.listStatus(dir).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => return Nil }
    val prev = names.filter(_.endsWith(".json"))
      .flatMap(_.stripSuffix(".json").toLongOption)
      .filter(_ < seq).sorted.reverse
    prev.iterator.flatMap(s => manifestHeader(s).map(sel))
      .collectFirst { case cols if cols.nonEmpty => cols }
      .getOrElse(Nil)
  }

  /** (file, minKey, maxKey) of the NEWEST manifest — the `show_files`
    * procedure listing. Bounds are None for files without a stats verdict;
    * empty when no compaction has published a manifest yet. Output is
    * inherently O(files) — a user-requested listing. */
  private[lake] def manifestFileStats(): Seq[(String, Option[String], Option[String])] =
    liveDeltas(timeline())._1.toSeq.flatMap { c =>
      manifestHeader(c.seq) match {
        case None => baseFilesOf(c.seq).map(f => (f, None, None))
        case Some(hdr) =>
          val byName: Map[String, (String, String)] =
            if (hdr.fileCount <= MorTable.smallManifestFiles)
              driverStats(c.seq, hdr).map(s => s.fname -> ((s.mn, s.mx))).toMap
            else statsScan(c.seq).select("fname", "mn", "mx").collect()
              .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
          baseFilesOf(c.seq).map { f =>
            byName.get(fnameOf(f)) match {
              case Some((mn, mx)) => (f, Option(mn), Option(mx))
              case None => (f, None, None)
            }
          }
      }
    }

  /** File-system view at current freshness (the Hudi CLI `show fsview`
    * analog): last-compaction boundary, base file count/bytes, live delta
    * commit/file counts and bytes. Pure driver-side metadata — one
    * `listStatus` per live directory, no Spark job; live deltas use the
    * same straggler-aware selection the snapshot read does. */
  def fsView(): MorTable.FsView = {
    val (lastCompact, deltas) = liveDeltas(timeline())
    def dirStats(dir: Path): (Int, Long) = {
      if (!fs.exists(dir)) (0, 0L)
      else {
        val fl = fs.listStatus(dir)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        (fl.length, fl.map(_.getLen).sum)
      }
    }
    val (bf, bb) = lastCompact.map(c => dirStats(new Path(baseDirOf(c))))
      .getOrElse((0, 0L))
    val ds = deltas.map(d => dirStats(new Path(hPath, s"delta/${d.seq}")))
    MorTable.FsView(lastCompact.map(_.seq), bf, bb,
      deltas.size, ds.map(_._1).sum, ds.map(_._2).sum)
  }

  def compact(): Unit = synchronized {
    val prep = prepareCompact()
    // RANGE-partition the base on the key (not hash): each output file owns
    // a disjoint key range, so the per-file min/max recorded in the manifest
    // actually excludes files — under hash partitioning every file spans
    // the whole key domain and file-level stats prune nothing. Costs one
    // sampling pass over the staged snapshot per compaction.
    val sized =
      if (writePartitions > 0) writePartitions // explicit write.tasks wins
      else if (targetFileBytes > 0) {
        // live on-disk bytes (base + deltas) from one metadata listing —
        // compressed parquet in, compressed parquet out, so the ratio is ~1
        val (baseDir, deltaDirs) = liveScanDirs()
        val bytes = (baseDir.toSeq ++ deltaDirs).map { d =>
          fs.listStatus(new Path(d)).filter(_.getPath.getName.endsWith(".parquet"))
            .map(_.getLen).sum
        }.sum
        math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      } else 0
    val out = if (sized > 0)
      prep.df.repartitionByRange(sized, col("_record_key")) else prep.df
    val staging = new Path(hPath, s".staging-compact-${System.nanoTime()}")
    // cluster by key: parquet row-group min/max stats on _record_key let
    // key-equality snapshot reads skip row groups entirely; a bloom filter
    // on the same column catches the keys min/max can't exclude (point
    // reads against a base whose key range spans the probe) — parquet-mr
    // consults it for pushed EqualTo/In before touching the row group
    out.sortWithinPartitions(col("_record_key"))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#_record_key", "true")
      .parquet(staging.toString)
    adoptBase(staging, prep.foldedDeltaSeqs, Some(prep.df.schema))
  }

  /** Cleaner (the Hudi cleaner + archived-timeline analog): physically
    * remove data files made redundant by the LATEST compaction — every
    * delta/base with seq below the last compact instant, whose content is
    * fully folded into that base — and ARCHIVE those instants: their batch
    * ids fold into the single `timeline/_archived` summary (so
    * exactly-once replay detection survives archival) and their timeline
    * files are deleted. This bounds the instant listing: at a 1-minute
    * commit cadence an unarchived timeline is ~10k files after a week, and
    * on S3 that listing becomes the per-operation metadata bottleneck.
    * Time travel earlier than the last compaction becomes unavailable.
    * Call only when no in-flight multi-table batch might still
    * recovery-read the removed deltas. Returns #data dirs removed. */
  def clean(): Int = synchronized {
    val l = commitLog.listing()
    val tl = l.instants
    tl.filter(_.kind == "compact").lastOption match {
      case None => 0
      case Some(c) =>
        // a savepointed snapshot at S needs the newest compact ≤ S plus
        // the live deltas of THAT compact's horizon (same resolution as
        // liveDeltas at S) — pin those against the clean
        val pinned: Set[Long] = savepoints().values.toSet.flatMap { (s: Long) =>
          val below = tl.filter(_.seq <= s)
          val cS = below.filter(_.kind == "compact").lastOption
          val lo = cS.map(_.seq).getOrElse(0L)
          cS.map(_.seq).toSet ++ below.filter(i => i.kind == "delta" &&
            (i.seq > lo || cS.exists(_.unfolded.contains(i.seq)))).map(_.seq)
        }
        // an unfolded straggler's content is NOT in the base — its data
        // and instant must survive the clean so reads keep replaying it
        val old = tl.filter(i => i.seq < c.seq && !c.unfolded.contains(i.seq) &&
          !pinned.contains(i.seq))
        val removed = old.map { i =>
          val dir = new Path(hPath, s"${if (i.kind == "compact") "base" else "delta"}/${i.seq}")
          if (i.kind == "compact") { // manifest of a cleaned base points at deleted files
            fs.delete(new Path(hPath, s"manifest/${i.seq}.json"), false)
            fs.delete(new Path(hPath, s"manifest/stats/${i.seq}"), true)
            fs.delete(new Path(hPath, s"manifest/rli/${i.seq}"), true)
          }
          if (fs.exists(dir)) { fs.delete(dir, true); 1 } else 0
        }.sum
        commitLog.archive(l, old)
        MorTable.purgeCaches(canonTablePath)
        removed
    }
  }

  /** Rollback (the Hudi restore analog): discard every commit with
    * seq > `toSeq` — timeline instants AND their data dirs — returning the
    * table to exactly its state as of `toSeq`. A rolled-back batchId is
    * re-committable afterwards (its instant is gone), which is the point:
    * re-ingest from a known-good commit after a bad deploy. Timeline files
    * go first so a reader listing mid-rollback never resolves an instant
    * whose data has been deleted. Fails if `toSeq` predates the cleaned
    * horizon (those deltas are physically gone). Returns #instants
    * rolled back. */
  def rollback(toSeq: Long): Int = MorTable.withTableLock(spark, path) { synchronized {
    // a writer mid-publish would have its claimed-but-unpublished commit's
    // data dir deleted out from under it — refuse loudly (quiesce writers
    // first, the Hudi restore contract). Markers older than a lease are
    // crash orphans and must not wedge the service.
    val l = commitLog.listing()
    val busy = l.liveMarkers
    require(busy.isEmpty,
      s"rollback: writer(s) mid-publish on $path (${busy.mkString(", ")}) — " +
        "quiesce writers first")
    val tl = l.instants
    require(toSeq == 0 || tl.exists(_.seq <= toSeq),
      s"rollback($toSeq): target predates the cleaned horizon " +
        s"(earliest available instant: ${tl.headOption.map(_.seq).getOrElse("none")})")
    val doomed = tl.filter(_.seq > toSeq)
    doomed.reverse.foreach { i =>
      commitLog.delete(i)
      if (i.kind == "compact") { // external readers take the HIGHEST manifest:
        fs.delete(new Path(hPath, s"manifest/${i.seq}.json"), false)
        fs.delete(new Path(hPath, s"manifest/stats/${i.seq}"), true)
        fs.delete(new Path(hPath, s"manifest/rli/${i.seq}"), true)
      }
      val dir = new Path(hPath, s"${if (i.kind == "compact") "base" else "delta"}/${i.seq}")
      if (fs.exists(dir)) fs.delete(dir, true)
      ()
    }
    MorTable.purgeCaches(canonTablePath)
    // savepoints pinned above the target point at commits that no longer
    // exist — release them rather than leave dangling pins
    savepoints().collect { case (n, s) if s > toSeq => n }.foreach(releaseSavepoint)
    doomed.size
  } }

  // ------------------------------------------------------------ savepoints

  /** Named savepoint (the Hudi savepoint analog): pins the current last
    * commit seq under `name`. [[clean]] preserves every instant the pinned
    * snapshot needs (its base plus the live deltas above it), so
    * `readAt(pinnedSeq)` keeps working across cleans, and [[restore]]
    * rolls the table back to it. Exclusive create — savepoints are
    * immutable; re-using a live name fails loudly. */
  def savepoint(name: String): Long = synchronized {
    require(name.nonEmpty &&
      !name.exists(c => c == '/' || c == '.' || c == '"' || c == '\\'),
      s"savepoint name must be a plain token: '$name'")
    val seq = lastSeq(timeline())
    require(seq > 0, "cannot savepoint an empty table")
    val dir = new Path(hPath, "savepoint")
    fs.mkdirs(dir)
    val p = new Path(dir, s"$name.json")
    if (fs.exists(p))
      throw new IllegalArgumentException(s"savepoint '$name' already exists")
    val out = fs.create(p, false)
    try out.write(s"""{"name":"$name","seq":$seq}"""
      .getBytes(StandardCharsets.UTF_8)) finally out.close()
    seq
  }

  /** Live savepoints: name → pinned commit seq. */
  def savepoints(): Map[String, Long] = {
    val dir = new Path(hPath, "savepoint")
    if (!fs.exists(dir)) return Map.empty
    fs.listStatus(dir).toSeq.map(_.getPath.getName).filter(_.endsWith(".json"))
      .flatMap { n =>
        val json = new String(readFully(fs, new Path(dir, n)), StandardCharsets.UTF_8)
        "\"seq\":(\\d+)".r.findFirstMatchIn(json)
          .map(m => n.stripSuffix(".json") -> m.group(1).toLong)
      }.toMap
  }

  /** Release a savepoint — its pinned instants become cleanable again. */
  def releaseSavepoint(name: String): Boolean =
    fs.delete(new Path(hPath, s"savepoint/$name.json"), false)

  /** Savepoint-TTL housekeeping (the service cadence verb): release every
    * savepoint whose pin file is older than `ttlMs` (file mtime — the pin
    * is written once at creation). `clone_*` pins are EXEMPT unless
    * `includeClonePins` — a clone pin is the live clone's only protection
    * from this table's `clean()` ([[cloneTo]] scaladoc), and a TTL sweep
    * silently collecting it would expose the clone to data loss; clones
    * release their pin explicitly once compacted or dropped. Returns the
    * released names. */
  def releaseSavepointsOlderThan(ttlMs: Long,
                                 nowMs: Long = System.currentTimeMillis(),
                                 includeClonePins: Boolean = false): Seq[String] = {
    val dir = new Path(hPath, "savepoint")
    if (ttlMs <= 0 || !fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(st => st.getPath.getName.endsWith(".json") &&
        (includeClonePins || !st.getPath.getName.startsWith("clone_")) &&
        nowMs - st.getModificationTime > ttlMs)
      .map(_.getPath.getName.stripSuffix(".json"))
      .filter(releaseSavepoint).sorted
  }

  /** Restore to savepoint `name` (Hudi restore-to-savepoint): [[rollback]]
    * to its pinned seq. Savepoints above the target are released by the
    * rollback itself. Returns #instants rolled back. */
  def restore(name: String): Int = {
    val seq = savepoints().getOrElse(name,
      throw new IllegalArgumentException(s"no such savepoint: '$name'"))
    rollback(seq)
  }

  /** S5 — drop the table (catalog + storage). */
  def drop(): Unit = {
    fs.delete(hPath, true)
    MorTable.purgeCaches(canonTablePath)
  }

  // ------------------------------------- LakeTable: the unpartitioned form

  def partitionCol: Option[String] = None
  def commits(): Seq[Instant] = timeline()
  def partitions(): Seq[String] = Nil
  def children(): Seq[(String, MorTable)] = Seq("" -> this)
  def exists(): Boolean = timeline().nonEmpty

  def readIncremental(sinceSeq: Long, values: Seq[String]): DataFrame = {
    wholeTable(values)
    readIncremental(sinceSeq)
  }

  def applyChangelog(envelope: DataFrame, batchId: Long): MorTable =
    applyChangelog(envelope, batchId, insertOnly = false)

  def dropPartitions(values: Seq[String]): Seq[String] = {
    wholeTable(values)
    Nil
  }

  def runCompaction(mode: String, zorderCols: Seq[String],
                    values: Seq[String]): (String, String) = {
    require(values.isEmpty, "partition argument needs a partitioned table")
    mode.toLowerCase match {
      case "full" => compact(); ("compacted", "full")
      case "minor" => compactMinor(); ("compacted", "minor")
      case "zorder" =>
        require(zorderCols.nonEmpty, "zorder mode needs zorder_cols")
        compactZOrder(zorderCols)
        ("compacted", s"zorder(${zorderCols.mkString(",")})")
      case "due" =>
        if (maybeCompact()) ("compacted", "due") else ("skipped", "not due")
      case m => throw new IllegalArgumentException(s"unknown mode '$m'")
    }
  }

  def compactIfDue(zorderCols: Seq[String]): Boolean =
    if (zorderCols.isEmpty) maybeCompact()
    else {
      val due = compactionDue()
      if (due) compactZOrder(zorderCols)
      due
    }

  def plannerNdv(liveRows: => Option[Long]): Map[String, Long] = {
    val keyNdv: Map[String, Long] =
      if (keyCols.size == 1) liveRows.map(keyCols.head -> _).toMap else Map.empty
    colNdv() ++ keyNdv
  }

  /** The unpartitioned form has no partitions to scope a verb to. */
  private def wholeTable(values: Seq[String]): Unit =
    require(values.isEmpty,
      s"$path is not partitioned: cannot scope to partition(s) ${values.mkString(", ")}")
}

object MorTable {

  /** One table's (or one partition child's) [[MorTable.fsView]] row. */
  final case class FsView(lastCompactSeq: Option[Long], baseFiles: Int,
      baseBytes: Long, liveDeltas: Int, deltaFiles: Int, deltaBytes: Long)

  /** FS-cost telemetry for timelines of both forms: [[Timeline.listing]]
    * calls and instant-file reads (asserted in MorTableSpec: read cost
    * must not grow with timeline length). */
  private[lake] val timelineLists = new java.util.concurrent.atomic.AtomicLong
  private[lake] val instantReads = new java.util.concurrent.atomic.AtomicLong

  // ------------------- cross-handle caches of IMMUTABLE published artifacts
  //
  // Published commit dirs, timeline instant files and manifest files never
  // mutate in place — only clean()/rollback()/dropPartitions()/drop() delete
  // them, and each of those purges the affected table's entries
  // ([[purgeCaches]]). Keeping the caches PER-HANDLE made every freshly
  // constructed handle re-pay the footer-inference job per commit dir and
  // the instant/manifest JSON reads — and fresh handles are the COMMON case:
  // [[PartitionedMorTable.child]] builds one per call, the SQL route builds
  // a MorRelation (→ new MorTable) per query, procedures per CALL. Measured
  // on s13_mor_partitioned: 10 footer-inference jobs and ~7 s of driver-only
  // wall per entry run, most of it these re-reads (guide §5 "the driver
  // should do almost no data work", §6 file-listing cost).
  //
  // Soundness: identical to the old per-handle caches —
  //  - timeline files: see Timeline.listing (keyed by name@len@mtime).
  //  - scan relations: keyed by (session, dir); dirs are immutable until a
  //    purge-site deletes them.
  //  - headers/stats: manifest/<seq>.json is immutable per seq modulo
  //    rollback (purged).
  // Bounds: coarse size caps with wholesale clear, as before (a cleared
  // cache only costs re-reads).
  private[lake] val scanCacheG =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), DataFrame]()
  private[lake] val headerCacheG =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), ManifestHeader]()
  private[lake] val statsCacheG =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Seq[FileStat]]()

  /** Canonical path form for cache keys and purge matching: a catalog
    * table's location round-trips as a `file:/…` URI while engine handles
    * use the raw `/…` form (the CLAUDE.md three-encodings family) — without
    * canonicalization a purge under one form would strand entries cached
    * under the other. The scheme/authority are KEPT (scheme-less paths
    * default to the local `file` FS, which is what a bare `/…` handle
    * means here): dropping them would let tables at the same path on
    * DIFFERENT filesystems (file:/x vs hdfs://nn/x) share cache keys and
    * serve each other's artifacts. */
  private[lake] def canonPath(p: String): String = {
    val u = new Path(p).toUri
    val scheme = Option(u.getScheme).getOrElse("file")
    val auth = Option(u.getAuthority).getOrElse("")
    s"$scheme://$auth${u.getPath}"
  }

  /** Drop every cached artifact of the table at `path` (and, because the
    * match is prefix-based, of its partition children) — called by every
    * operation that deletes published dirs/files. Callers pass the
    * CANONICAL path ([[canonPath]]). */
  private[lake] def purgeCaches(path: String): Unit = {
    val pfx = path + "/"
    def matches(p: String): Boolean = p == path || p.startsWith(pfx)
    // scan keys: single dirs (prefix match) AND the partitioned multi-dir
    // sets ("|"-joined) — containment over-purges at worst (benign re-read)
    scanCacheG.keySet.removeIf { case (_, d) => matches(d) || d.contains(path) }
    Timeline.instantCache.keySet.removeIf { case (p, _) => matches(p) }
    Timeline.archiveCache.keySet.removeIf { case (p, _) => matches(p) }
    headerCacheG.keySet.removeIf { case (p, _) => matches(p) }
    statsCacheG.keySet.removeIf { case (p, _) => matches(p) }
    ()
  }

  /** Regime threshold for the sharded manifest: stats of manifests with
    * at most this many base files are read driver-side (bounded, cached);
    * above it every pruning probe filters the stats RELATION cluster-side
    * and only file NAMES reach the driver. Tests lower it to drive the
    * large-table path on small data. */
  @volatile private[lake] var smallManifestFiles: Int = 512

  /** Merge-batch key-collect cap: sources/batches with at most this many
    * distinct keys resolve their merge target through [[MorTable!.readForKeys]]
    * (driver-collected probe set → listing-level bloom/range FILE pruning);
    * larger ones fall back to the scan-and-join [[MorTable!.readForKeysOf]].
    * Well below readForKeys' 100k literal-In() bloat bound — a merge batch
    * past 10k keys is bulk maintenance, where the semi-join is the right
    * plan anyway. */
  private[graft] val mergeKeyCollectCap: Int = 10000

  /** Telemetry: per-file stats rows materialized DRIVER-side (regime 1
    * only) — the sharded-manifest spec asserts this stays 0 on the
    * large-table path and ≤ threshold on the small one. */
  private[lake] val statsDriverRows = new java.util.concurrent.atomic.AtomicLong

  /** HLL precision for the manifest's column-NDV registers (m=4096,
    * ±1.6% — the planner-statistic accuracy class). */
  private[graft] val ndvP: Int = 12

  /** Engine-portable uniform 32-bit hash of a value's CAST string (the
    * manifest NDV hash family): first 8 md5 hex digits, the same
    * md5-substring family the portable sketches use. */
  private[graft] def hash32(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** HLL estimate for ANY register width (Flajolet's alpha_m; the m=64
    * oracle path stays in [[graft.functions.expr.HllEstimate]] with its
    * cross-engine rounding pin — this one feeds the planner, where ±1.6%
    * needs no pinning). */
  private[graft] def hllEstimate(regs: Seq[Int]): Double = {
    val m = regs.size
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    var s = 0.0
    var v = 0
    regs.foreach { r => s += math.pow(2.0, -r); if (r == 0) v += 1 }
    val raw = alpha * m * m / s
    if (raw <= 2.5 * m && v > 0) m * math.log(m.toDouble / v) else raw
  }

  /** Tiny manifest header (`manifest/<seq>.json`): O(1) in file count.
    * `rows` = total base rows (incl. retained tombstones); -1 for
    * manifests written before the field existed. `ndv` = table-level HLL
    * distinct-count estimates per stat column (empty pre-round-11). */
  private[lake] final case class ManifestHeader(baseSeq: Long, fileCount: Int,
                                                statCols: Seq[String],
                                                indexCols: Seq[String],
                                                rows: Long = -1L,
                                                ndv: Map[String, Long] = Map.empty,
                                                colMin: Map[String, Double] = Map.empty,
                                                colMax: Map[String, Double] = Map.empty,
                                                /** Exact non-tombstone base
                                                  * rows (-1 = pre-round-13
                                                  * manifest, unknown). */
                                                liveRows: Long = -1L)

  /** One base file's stats row, driver-side regime (bounded by
    * [[smallManifestFiles]]). Absent per-column entries = null stats. */
  private[lake] final case class FileStat(fname: String, mn: String, mx: String,
                                          del: Boolean, bloom: Array[Byte],
                                          colMn: Map[String, Double],
                                          colMx: Map[String, Double],
                                          colBloom: Map[String, Array[Byte]])

  private[lake] def parseHeader(json: String): Option[ManifestHeader] =
    "\"fileCount\":(\\d+)".r.findFirstMatchIn(json).map { fc =>
      def cols(k: String): Seq[String] =
        ("\"" + k + "\":\\[([^\\]]*)\\]").r.findFirstMatchIn(json).toSeq
          .flatMap(m => ("\"" + jsEscapedRe + "\"").r.findAllMatchIn(m.group(1))
            .map(x => jsUnescape(x.group(1))))
      val ndv: Map[String, Long] =
        "\"ndv\":\\{([^}]*)\\}".r.findFirstMatchIn(json).map { m =>
          ("\"" + jsEscapedRe + "\":(\\d+)").r.findAllMatchIn(m.group(1))
            .map(x => jsUnescape(x.group(1)) -> x.group(2).toLong).toMap
        }.getOrElse(Map.empty)
      def dblMap(key: String): Map[String, Double] =
        ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(json).map { m =>
          ("\"" + jsEscapedRe + "\":(-?[\\d.]+(?:[eE][+-]?\\d+)?)").r
            .findAllMatchIn(m.group(1))
            .map(x => jsUnescape(x.group(1)) -> x.group(2).toDouble).toMap
        }.getOrElse(Map.empty)
      ManifestHeader(
        "\"baseSeq\":(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L),
        fc.group(1).toInt, cols("statCols"), cols("indexCols"),
        "\"rows\":(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L),
        ndv, dblMap("colMin"), dblMap("colMax"),
        "\"liveRows\":(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L))
    }

  /** Read a (SMALL) stats relation driver-side via parquet-hadoop — no
    * Spark job, so repeated metadata probes (a sink's per-commit newness
    * proof) never pay scheduler latency. Callers cache the result; the
    * row count is bounded by [[smallManifestFiles]]. */
  private[lake] def readStatsDriverSide(fs: FileSystem, dir: Path,
      statCols: Seq[String], indexCols: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Seq[FileStat] = {
    val files =
      try fs.listStatus(dir).toSeq.map(_.getPath).filter(_.getName.endsWith(".parquet"))
      catch { case _: java.io.FileNotFoundException => return Nil }
    files.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), f)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        def has(n: String) =
          g.getType.containsField(n) && g.getFieldRepetitionCount(n) > 0
        def str(n: String) = if (has(n)) g.getBinary(n, 0).toStringUsingUTF8 else null
        def bin(n: String) = if (has(n)) g.getBinary(n, 0).getBytes else null
        def dbl(n: String): Option[Double] =
          if (has(n)) Some(g.getDouble(n, 0)) else None
        FileStat(str("fname"), str("mn"), str("mx"),
          has("del") && g.getInteger("del", 0) == 1,
          bin("bloom"),
          statCols.flatMap(c => dbl(s"mn_$c").map(c -> _)).toMap,
          statCols.flatMap(c => dbl(s"mx_$c").map(c -> _)).toMap,
          indexCols.flatMap(c => Option(bin(s"bl_$c")).map(c -> _)).toMap)
      }.toList
      finally reader.close()
    }
  }

  /** A staged compaction: the merged snapshot to write and the delta seqs
    * whose content it folds (everything else below the base seq becomes
    * `unfolded` on the compact instant — see [[MorTable.adoptBase]]). */
  private[lake] final case class CompactPrep(df: DataFrame, foldedDeltaSeqs: Set[Long])

  /** Minor-compaction plan: affected/carried base files plus the delta
    * seqs the affected set was computed from (see [[MorTable.minorPlan]]). */
  private[lake] final case class MinorPlan(affected: Seq[String],
                                           carried: Seq[String],
                                           plannedDeltaSeqs: Set[Long])

  /** One committed instant on the timeline.
    *
    * `unfolded` (compact instants only): delta seqs BELOW this compact's
    * seq whose content is NOT in its base — commits that were claimed
    * (inflight marker up) but unpublished when the base was staged. A
    * snapshot read replays them once they publish, so a compaction racing
    * a slow writer can never permanently shadow that writer's commit.
    *
    * `insertOnly` (delta instants): the writer asserted every row is a NEW
    * key (CDC `op = I` contract, or the initial load of an empty table).
    * When ALL live deltas carry it, they are pairwise key-disjoint — and
    * disjoint from the base (an insert's key cannot be live there) — so
    * snapshot merges skip the LWW window's full-table shuffle. The Hudi
    * insert-vs-upsert operation split; like Hudi, the flag TRUSTS the
    * writer, and a contract-violating "insert" of a live key surfaces as a
    * duplicate instead of being silently deduped. */
  final case class Instant(seq: Long, kind: String, batchId: Long, commitMs: Long,
                           unfolded: Seq[Long] = Nil, insertOnly: Boolean = false,
                           /** Zero-copy bootstrap commit (see
                             * [[MorTable.bootstrap]]): this compact's base
                             * is the EXTERNAL parquet directory named here —
                             * no managed `base/<seq>` dir, no manifest, lake
                             * meta columns synthesized at scan time. */
                           bootstrapDir: Option[String] = None,
                           /** With [[bootstrapDir]]: the external dir is
                             * ANOTHER mor table's base (shallow CLONE, see
                             * [[MorTable.cloneTo]]) — it already carries the
                             * lake meta columns on disk. `_record_key` /
                             * `_deleted` are read as-is (tombstones
                             * preserved); `_commit_seqno`/`_commit_time` are
                             * REBASED to this instant so the clone's own
                             * later deltas (small local seqs) outrank the
                             * adopted rows in the LWW merge. */
                           bootstrapMeta: Boolean = false,
                           /** With a meta-less [[bootstrapDir]] under a
                             * PARTITIONED table: the Hive partition
                             * (column, raw value, catalog type) the
                             * external files do NOT carry — standard Hive
                             * layout keeps partition values in directory
                             * names only — synthesized as a typed literal
                             * by [[baseScanOf]] so child compactions bake
                             * it into the managed base. */
                           bootstrapPart: Option[(String, String, String)] = None) {
    def toJson: String = {
      val uf = if (unfolded.isEmpty) "" else s""","unfolded":[${unfolded.mkString(",")}]"""
      val io = if (insertOnly) s""","insertOnly":true""" else ""
      val bd = bootstrapDir.map(d =>
        s""","bootstrapDir":"${jsEscape(d)}"""").getOrElse("")
      val bm = if (bootstrapMeta) s""","bootstrapMeta":true""" else ""
      val bp = bootstrapPart.map { case (c, v, t) =>
        s""","bootstrapPartCol":"${jsEscape(c)}","bootstrapPartValue":"${jsEscape(v)}"""" +
          s""","bootstrapPartType":"${jsEscape(t)}""""
      }.getOrElse("")
      s"""{"seq":$seq,"kind":"$kind","batchId":$batchId,"commitMs":$commitMs$uf$io$bd$bm$bp}"""
    }
  }

  private[lake] def parseInstant(json: String): Instant = {
    def field(name: String): String = {
      val m = java.util.regex.Pattern.compile("\"" + name + "\":(-?\\d+|\"[a-z]+\")").matcher(json)
      if (!m.find()) throw new IllegalArgumentException(s"bad timeline json: $json")
      m.group(1).stripPrefix("\"").stripSuffix("\"")
    }
    val uf = {
      val m = java.util.regex.Pattern.compile("\"unfolded\":\\[([0-9,]*)\\]").matcher(json)
      if (m.find() && m.group(1).nonEmpty) m.group(1).split(',').toSeq.map(_.toLong) else Nil
    }
    val bd = {
      val m = java.util.regex.Pattern
        .compile("\"bootstrapDir\":\"((?:[^\"\\\\]|\\\\.)*)\"").matcher(json)
      if (m.find()) Some(jsUnescape(m.group(1))) else None
    }
    def strField(name: String): Option[String] = {
      val m = java.util.regex.Pattern
        .compile("\"" + name + "\":\"((?:[^\"\\\\]|\\\\.)*)\"").matcher(json)
      if (m.find()) Some(jsUnescape(m.group(1))) else None
    }
    val bp = (strField("bootstrapPartCol"), strField("bootstrapPartValue"),
      strField("bootstrapPartType")) match {
      case (Some(c), Some(v), Some(t)) => Some((c, v, t))
      case _ => None
    }
    Instant(field("seq").toLong, field("kind"), field("batchId").toLong,
      field("commitMs").toLong, uf, json.contains("\"insertOnly\":true"), bd,
      json.contains("\"bootstrapMeta\":true"), bp)
  }

  /** JSON string-escape shared by every hand-built metadata file (manifest
    * stats, savepoints): the ONE escaper, so values round-trip identically
    * through every parser ([[jsUnescape]] is its exact inverse). */
  private[lake] def jsEscape(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  /** Inverse of [[jsEscape]]. */
  private[lake] def jsUnescape(s: String): String = {
    val b = new StringBuilder; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) s.charAt(i + 1) match {
        case 'u' => b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
        case e => b.append(e); i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Regex source matching one [[jsEscape]]d string body (group 1). */
  private[lake] val jsEscapedRe = "((?:[^\"\\\\]|\\\\.)*)"

  /** True when the plan is nothing but narrow ops over already-
    * materialized leaves (pinned localCheckpoint blocks / local rows) -
    * the shape where a shuffle-free coalesce bounds the write fan-out
    * without limiting any upstream compute (see commitDelta). */
  private[lake] def narrowOverMaterialized(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.LogicalRDD => true
    case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
    case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
      narrowOverMaterialized(pr.child)
    case fl: org.apache.spark.sql.catalyst.plans.logical.Filter =>
      narrowOverMaterialized(fl.child)
    case _ => false
  }

  /** Escape Hadoop-glob metacharacters in a concrete path so
    * `spark.read.parquet(path)` opens the file rather than parsing it as
    * a pattern — a partitioned child's dir embeds the RAW partition value
    * (`p=pl[ain`, `p=s*r`), and DataSource globs every input string. */
  private[lake] def globSafe(p: String): String =
    p.replaceAll("([*?\\[\\]{}\\\\])", "\\\\$1")
  private[lake] def globSafe(ps: Seq[String]): Seq[String] = ps.map(globSafe)

  /** Filesystem TABLE LOCK (the Hudi FileSystemBasedLockProvider analog) —
    * the serialization the same-key [[MorTable.upsertIfNew]] contract
    * defers to: two uncoordinated writers racing ONE key through the
    * newness proof can both prove "new" (the proof is read-time); under
    * the lock the second writer's probe sees the first's commit and
    * refuses, so insert-only flags stay truthful for ANY key overlap.
    *
    * Lease semantics: the lock is an EXCLUSIVE-created `<dir>/.tablelock`
    * carrying (nonce, expiry); a holder that crashes is taken over once
    * its lease expires. The lock is published CONTENT-ATOMICALLY (full
    * bytes to a nonce-keyed temp, then a no-replace move onto the lock
    * path), so no reader ever observes a lock file without its complete
    * content — and unparsable content, should it ever appear, is treated
    * as transient (re-poll), never as stale. Takeover is ATOMIC per lock
    * GENERATION: the taker
    * RENAMES the expired lock file to a generation-keyed tombstone
    * (`.tablelock.taken.<nonce>`), then re-races the exclusive create like
    * everyone else. The rename never replaces an existing destination, and
    * a generation's lock can only LEAVE the lock path by that same rename
    * (release uses it too, never a delete) — so for every departed
    * generation the tombstone exists from the instant of departure, and a
    * taker stalled arbitrarily long between observing expiry and acting
    * finds its generation's tombstone already present: its rename fails
    * and it can never displace a successor's fresh lock. No
    * verify-then-delete window exists anywhere (the round-9 residual
    * TOCTOU). Staleness is evaluated against a timestamp captured BEFORE
    * reading the lock, so a generation released WITHIN its lease is
    * provably never deemed stale by anyone — its releaser can therefore
    * remove its own tombstone immediately (zero steady-state litter).
    * Only expired generations (a crashed or lease-overrunning holder —
    * the abnormal path) leave one tiny tombstone each, the permanent
    * record that blocks their stalled takers forever. A holder whose
    * lease expired mid-critical-section can never disturb its successor
    * (its own WRITES are still protected by the OCC seq claim — the lease
    * bounds mutual exclusion, not correctness). Same atomic-create/rename
    * requirement as [[Timeline.claim]]: HDFS-class and local filesystems
    * yes; plain S3 needs conditional puts or an external provider, as
    * Hudi documents. Clock skew across writer hosts erodes lease accuracy
    * (the scheme's standing assumption), never rename atomicity.
    *
    * Disjoint-key writers do NOT need this (OCC + the disjointness spec
    * cover them); take the lock only for same-key upsertIfNew races or
    * stop-the-world services (restore). */
  def withTableLock[T](spark: SparkSession, path: String,
                       leaseMs: Long = 60000L, waitMs: Long = 30000L)(f: => T): T = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val lock = new Path(dir, ".tablelock")
    // REENTRANT per thread: the destructive verbs (rollback/restore/
    // dropPartitions) acquire internally, and the documented caller
    // pattern wraps them in this same lock — a second acquisition on the
    // held path must not self-deadlock until the wait timeout
    val lockKey = lock.toString
    if (heldLocks.get().contains(lockKey)) return f
    val nonce = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + waitMs
    // CONTENT-ATOMIC exclusive publish of `p` with `content`: the full
    // bytes land in a nonce-keyed temp file first, which is then moved
    // onto the lock path by [[renameNoReplace]] (atomically failing on an
    // existing destination) — no reader can EVER observe the lock file
    // without its complete content. A bare exclusive-create-then-write
    // (the round-10 regression) makes the file visible before its bytes,
    // and a waiter reading the empty window would misclassify the FRESH
    // lock. Returns false when the lock already exists.
    def createNew(p: Path, content: String): Boolean = {
      val tmp = new Path(p.getParent, s"${p.getName}.new.$nonce")
      try {
        if (fs.getScheme == "file")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(tmp.toUri.getPath),
            content.getBytes(StandardCharsets.UTF_8))
        else {
          val out = fs.create(tmp, true)
          try out.write(content.getBytes(StandardCharsets.UTF_8))
          finally out.close()
        }
        val won = renameNoReplace(fs, tmp, p)
        if (!won) fs.delete(tmp, false) // lost the race: no nonce litter
        won
      } catch {
        case _: java.io.IOException =>
          try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
          false
      }
    }
    var held = false
    var myExpiry = 0L
    while (!held) {
      val expiry = System.currentTimeMillis() + leaseMs
      if (createNew(lock, s"$nonce|$expiry")) { held = true; myExpiry = expiry }
      else {
        // Stale-lease takeover: ONE atomic rename to the generation-keyed
        // tombstone (see the scaladoc) — no claim files, no
        // verify-then-delete window. Staleness is anchored at a timestamp
        // captured BEFORE the read: a thread descheduled between the read
        // and the check can never promote a then-unexpired generation to
        // "stale" (which is what lets within-lease releases remove their
        // tombstones safely).
        val readTs = System.currentTimeMillis()
        val txt = try {
          Some(new String(readFully(fs, lock), StandardCharsets.UTF_8))
        } catch { case _: java.io.IOException => None } // vanished: re-race
        // ONLY a well-formed `nonce|expiry` with expiry < readTs may enter
        // the takeover path. Unparsable content is TRANSIENT (re-poll until
        // the wait deadline), never stale: with the content-atomic publish
        // above it should be unobservable, but a corrupt⇒stale shortcut is
        // exactly what converted the round-10 empty-read window into theft
        // of a fresh lock — fail toward waiting, never toward stealing.
        val stale = txt.exists { t =>
          t.split('|') match {
            case Array(_, exp) => exp.toLongOption.exists(_ < readTs)
            case _ => false // corrupt/partial: transient, re-poll
          }
        }
        if (stale) { takeoverStaleLock(fs, dir, txt.get); () }
        else if (txt.isDefined && System.currentTimeMillis() > deadline)
          throw new java.io.IOException(
            s"table lock at $lock not acquired within ${waitMs} ms")
        else if (txt.isDefined) Thread.sleep(50)
      }
    }
    heldLocks.set(heldLocks.get() + lockKey)
    try f
    finally {
      heldLocks.set(heldLocks.get() - lockKey)
      // Release = the SAME generation-keyed rename as takeover, never a
      // verify-then-delete: a holder stalled past its lease between a
      // nonce check and a delete could otherwise remove a successor's
      // fresh lock. If the rename completed within our lease, nobody can
      // ever have deemed this generation stale (staleness is anchored
      // pre-read, see above), so our tombstone is untargetable and we
      // remove it — the normal path leaves no litter. An overrun release
      // keeps the tombstone: it is the permanent block against our own
      // stalled takers.
      try {
        val txt = new String(readFully(fs, lock), StandardCharsets.UTF_8)
        if (txt.startsWith(nonce + "|") &&
            renameNoReplace(fs, lock, tombstonePath(dir, nonce)) &&
            System.currentTimeMillis() < myExpiry) {
          fs.delete(tombstonePath(dir, nonce), false); ()
        }
      } catch { case _: java.io.IOException => () }
    }
  }

  private def tombstonePath(dir: Path, genNonce: String): Path =
    new Path(dir, s".tablelock.taken.${genNonce.replaceAll("[^A-Za-z0-9-]", "_")}")

  /** Atomic stale-lock takeover: rename the expired generation's lock file
    * to its generation-keyed tombstone. Returns true iff THIS call moved
    * the lock (exactly one caller per generation can). `lockTxt` is the
    * expired content the caller observed — its nonce keys the tombstone,
    * so a caller stalled since observing it finds the tombstone already
    * created (by the generation's actual taker OR its releaser) and fails
    * harmlessly, whatever sits at the lock path now. Package-visible for
    * the stall-injection spec. */
  private[graft] def takeoverStaleLock(fs: FileSystem, dir: Path,
                                       lockTxt: String): Boolean =
    renameNoReplace(fs, new Path(dir, ".tablelock"),
      tombstonePath(dir, lockTxt.split('|').head))

  /** Rename that NEVER replaces an existing destination (false on any
    * conflict or missing source). POSIX rename(2) silently REPLACES the
    * destination, and `Files.move` WITHOUT REPLACE_EXISTING is implemented
    * (UnixCopyFile) as a destination-exists CHECK followed by rename(2) —
    * a destination created inside that window is silently replaced, which
    * would void the tombstone guard for a taker stalled between the check
    * and the rename. `Files.createLink` is the one POSIX primitive that
    * atomically fails with EEXIST on an existing destination, so the
    * `file` scheme publishes dst as a hard link to src and then unlinks
    * src (same directory, so always the same filesystem). The src unlink
    * is not atomic with the link; the invariant that keeps the deferred
    * unlink safe is that ONLY THE LINKER ever unlinks the src path — a
    * slow linker's pending delete can therefore only ever remove the
    * entry it linked, never a successor's. Consequences of a crash in
    * the window: on the lock-publish path, nonce-keyed temp litter; on
    * the takeover/release path, the expired generation's link stays at
    * the lock path with its tombstone present, and waiters FAIL LOUDLY
    * at their wait deadline (takeover is tombstone-blocked, and no
    * automatic recovery is sound: any second deleter of the lock path
    * would void the only-the-linker-unlinks invariant against a slow —
    * not crashed — taker's pending delete). A crash inside a two-syscall
    * window trades, deliberately, a theft bug for a
    * manual-cleanup-after-loud-failure liveness gap. HDFS-class
    * filesystems already fail a rename onto an existing destination
    * atomically, with no such window.
    *
    * HARD-LINK REQUIREMENT (`file` scheme): the atomicity above needs
    * link(2). A local filesystem WITHOUT hard links (FAT/exFAT, some NFS
    * exports and container bind mounts) throws
    * UnsupportedOperationException from `createLink` — caught below and
    * degraded to `Files.move` without REPLACE_EXISTING, which is
    * no-replace but only check-then-rename atomic: on such filesystems
    * the lock keeps working for the normal acquire/release flow, and the
    * stale-takeover race narrows from "provably exclusive" to the
    * pre-link-era millisecond window. Degraded, documented, never a
    * crash. */
  private def renameNoReplace(fs: FileSystem, src: Path, dst: Path): Boolean =
    try {
      if (fs.getScheme == "file") {
        val s = java.nio.file.Paths.get(src.toUri.getPath)
        val d = java.nio.file.Paths.get(dst.toUri.getPath)
        try java.nio.file.Files.createLink(d, s)
        catch {
          case _: UnsupportedOperationException | _: SecurityException =>
            // link-less local filesystem: fall back to the non-window-free
            // no-replace move (see scaladoc) rather than crash the caller
            java.nio.file.Files.move(s, d)
            dropCrcSidecars(src, dst)
            return true
        }
        try java.nio.file.Files.delete(s)
        catch { case _: java.io.IOException => () } // dst holds the content
        dropCrcSidecars(src, dst)
        true
      } else fs.rename(src, dst)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.nio.file.NoSuchFileException => false
      case _: java.io.IOException => false
    }

  /** The nio link/move bypasses ChecksumFileSystem: a crc sidecar written
    * by an fs.create of src would be orphaned at the OLD path and poison
    * every later same-path lock read (ChecksumException → unreadable lock
    * → waiters spin) — drop both sidecars. */
  private def dropCrcSidecars(src: Path, dst: Path): Unit =
    Seq(src, dst).foreach { p =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
        new Path(p.getParent, s".${p.getName}.crc").toUri.getPath))
    }

  /** `base` with the UPDATE `set` assignments applied in ONE projection,
    * every assignment evaluated against the original row (SQL UPDATE
    * semantics). SET keys resolve CASE-INSENSITIVELY against the table
    * schema (Spark's default resolution; mirrors addColumns) and the output
    * keeps the table's own column spelling; a key naming no column is
    * refused — it would otherwise commit the matched rows unchanged. */
  private[lake] def updatedImages(base: DataFrame, set: Map[String, Column]): DataFrame = {
    val byLower = set.map { case (k, v) => k.toLowerCase -> v }
    require(byLower.size == set.size,
      s"update: SET names duplicate columns (case-insensitive): " +
        set.keys.mkString(", "))
    val known = base.columns.map(_.toLowerCase).toSet
    val unknown = byLower.keySet.filterNot(known.contains)
    require(unknown.isEmpty,
      s"update: unknown column(s) ${unknown.mkString(", ")} " +
        s"(table columns: ${base.columns.mkString(", ")})")
    base.select(base.columns.map(c =>
      byLower.get(c.toLowerCase).map(_.as(c)).getOrElse(col(c))): _*)
  }

  /** Lock paths held by the CURRENT thread (reentrancy bookkeeping for
    * [[withTableLock]]). */
  private val heldLocks = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private[lake] def readFully(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** What an EXTERNAL engine does with the snapshot manifest, expressed in
    * Spark for the spec: take the highest-seq `manifest/<seq>.json`; its
    * file listing is either inline (`files` array — the parent-level /
    * legacy form) or, for the SHARDED child form, the `file` column of the
    * `manifest/stats/<seq>/` parquet relation (engine-neutral parquet, so
    * "read a column" is the whole recipe). Then read the listed parquet
    * files directly, apply the declared `_deleted` filter, drop the meta
    * columns. No graft merge logic involved. */
  def readManifest(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(path, "manifest")
    val latest = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.matches("\\d+\\.json")).map(_.stripSuffix(".json").toLong).max
    val json = new String(readFully(fs, new Path(dir, s"$latest.json")),
      StandardCharsets.UTF_8)
    // listing source, by manifest form: inline `files` array (small
    // tables), a `filesDir` parquet listing (sharded parent manifests),
    // or the stats relation's `file` column (sharded child manifests)
    val filesDirRe = ("\"filesDir\":\"" + jsEscapedRe + "\"").r
    val files = "\"files\":\\[([^\\]]*)\\]".r.findFirstMatchIn(json) match {
      case Some(m) =>
        ("\"" + jsEscapedRe + "\"").r.findAllMatchIn(m.group(1))
          .map(x => jsUnescape(x.group(1))).filter(_.endsWith(".parquet")).toSeq
      case None => filesDirRe.findFirstMatchIn(json) match {
        case Some(m) =>
          spark.read.parquet(globSafe(new Path(dir, jsUnescape(m.group(1))).toString))
            .select("file").collect().map(_.getString(0)).toSeq.sorted
        case None => // sharded child header: listing lives in the stats relation
          spark.read.parquet(globSafe(new Path(dir, s"stats/$latest").toString))
            .select("file").collect().map(_.getString(0)).toSeq.sorted
      }
    }
    val raw = spark.read.parquet(globSafe(files): _*)
    val live = if (raw.columns.contains("_deleted")) raw.filter(!col("_deleted")) else raw
    live.drop(CommitRows.metaCols: _*)
  }

  /** Open an existing table or prepare a handle for a new one. */
  def apply(spark: SparkSession, path: String, keyCols: Seq[String],
            compactionDeltaCommits: Int = 2, compactionDeltaSeconds: Long = 120L): MorTable =
    new MorTable(spark, path, keyCols, compactionDeltaCommits, compactionDeltaSeconds)

  /** Declarable write/compaction policy — the reference's CREATE TABLE
    * `WITH ('compaction.delta_commits'='2','compaction.delta_seconds'=
    * '120','write.tasks'='3')` surface (CDC-Hudi-Notebook.zpln:292,:2234).
    * Persisted at `<path>/manifest/policy.json` so a FRESH session's
    * handle (SQL catalog resolution, DataFrame writer) inherits the
    * declared cadence instead of silently reverting to defaults. */
  final case class Policy(deltaCommits: Int = 2, deltaSeconds: Long = 120L,
                          writeTasks: Int = 0, targetFileMB: Int = 0,
                          /** Async-clustering declaration (the Hudi
                            * `clustering.async.enabled` + sort-columns
                            * analog): every `clusterEvery`th compacting
                            * service tick runs a z-order clustering
                            * compaction on these columns instead of the
                            * plain key compaction. */
                          zorderCols: Seq[String] = Nil,
                          clusterEvery: Int = 0,
                          /** Service housekeeping cadences: clean() after
                            * every Nth compacting tick; savepoints older
                            * than the TTL auto-release. 0 = never. */
                          cleanEvery: Int = 0,
                          savepointTTLSeconds: Long = 0L) {
    def toJson: String = {
      val z = zorderCols.map(c => "\"" + jsEscape(c) + "\"").mkString(",")
      s"""{"deltaCommits":$deltaCommits,"deltaSeconds":$deltaSeconds,""" +
        s""""writeTasks":$writeTasks,"targetFileMB":$targetFileMB,""" +
        s""""zorderCols":[$z],"clusterEvery":$clusterEvery,""" +
        s""""cleanEvery":$cleanEvery,"savepointTTLSeconds":$savepointTTLSeconds}"""
    }
  }

  /** Persist `p` as the table's policy (atomic tmp+rename; a matching
    * redeclaration is a no-op, a differing one wins — DDL semantics). */
  def writePolicy(spark: SparkSession, path: String, p: Policy): Unit = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (readPolicy(spark, path).contains(p)) return
    val dir = new Path(hp, "manifest")
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".policy.json.tmp-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(p.toJson.getBytes(StandardCharsets.UTF_8)) finally out.close()
    fs.delete(new Path(dir, "policy.json"), false)
    if (!fs.rename(tmp, new Path(dir, "policy.json")))
      throw new java.io.IOException(s"policy write failed under $dir")
    ()
  }

  /** The persisted policy, if any session ever declared one. */
  def readPolicy(spark: SparkSession, path: String): Option[Policy] = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(hp, "manifest/policy.json")
    if (!fs.exists(p)) return None
    val json = new String(readFully(fs, p), StandardCharsets.UTF_8)
    def num(k: String): Option[String] =
      ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(json).map(_.group(1))
    val zc = "\"zorderCols\":\\[([^\\]]*)\\]".r.findFirstMatchIn(json).toSeq
      .flatMap(m => ("\"" + jsEscapedRe + "\"").r.findAllMatchIn(m.group(1))
        .map(x => jsUnescape(x.group(1))))
    for {
      dc <- num("deltaCommits"); ds <- num("deltaSeconds"); wt <- num("writeTasks")
    } yield Policy(dc.toInt, ds.toLong, wt.toInt,
      num("targetFileMB").map(_.toInt).getOrElse(0),
      zc,
      num("clusterEvery").map(_.toInt).getOrElse(0),
      num("cleanEvery").map(_.toInt).getOrElse(0),
      num("savepointTTLSeconds").map(_.toLong).getOrElse(0L))
  }

  /** Open `path` honoring its persisted — or newly `declared` — policy:
    * the handle the SQL/DataSource surface uses, so a table created with
    * declared compaction options keeps compacting at that cadence from
    * every future session's handle. */
  def resolve(spark: SparkSession, path: String, keyCols: Seq[String],
              declared: Option[Policy] = None,
              autoCompact: Boolean = true): MorTable = {
    declared.foreach(writePolicy(spark, path, _))
    val eff = declared.orElse(readPolicy(spark, path)).getOrElse(Policy())
    new MorTable(spark, path, keyCols, eff.deltaCommits, eff.deltaSeconds,
      autoCompact, eff.writeTasks,
      targetFileBytes = eff.targetFileMB * 1024L * 1024L)
  }
}
