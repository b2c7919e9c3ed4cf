package graft.mor

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, InsertableRelation, PrunedFilteredScan, RelationProvider}
import org.apache.spark.sql.types.StructType
import graft.lake.{LakeTable, MorTable}

/** Spark DataSource for MOR lake tables — the cross-engine/cross-session
  * metadata seam (the reference registers its Hudi table in Glue so a
  * DIFFERENT engine, Athena, queries it live:
  * `lib/rds-cdc-flink-hudi-stack.ts:458-519`, `README.md:116-124`).
  *
  * Surface:
  * {{{
  *   spark.read.format("graft.mor").option("keys", "user_id").load(path)
  *   df.write.format("graft.mor").option("keys", "user_id").mode("append").save(path)
  *   spark.sql("CREATE TABLE t USING graft.mor OPTIONS (path '...', keys 'user_id')")
  *   // PARTITIONED BY form (routes through PartitionedMorTable):
  *   ....option("partition", "event_type")             // reads AND writes
  *   ....option("partitionValues", "click,purchase")   // pruned read
  * }}}
  * The CREATE TABLE form persists (path, keys) in the shared external
  * catalog — every session of the application (and, with a Hive metastore,
  * every future application) resolves `t` by name, the Glue analog.
  *
  * Freshness: the relation is just (path, keys); `buildScan` re-resolves
  * the table's CURRENT timeline on every query execution, so a catalog
  * table — even one cached in the session's relation cache — always reads
  * the latest commit, like Athena reading a Glue-registered Hudi table.
  * (Schema is pinned at relation creation, standard DataSource behavior.)
  *
  * This is the V1 `RelationProvider` seam (the one Hudi's own Spark
  * integration began with) rather than DSv2: the MOR snapshot is a
  * base ⟕ deltas merge that needs a key shuffle, which a DSv2
  * `PartitionReader` cannot express — `buildScan` may run a full
  * distributed plan, so the merge stays a Spark plan, not a reimplemented
  * reader.
  *
  * Writes: `mode("append")` = keyed upsert (the only MOR write mode;
  * SaveMode.Append maps to upsert exactly like Hudi's default). `keys` is
  * required on first write; `order` (comma-separated columns, default the
  * keys) breaks ties within the batch.
  */
class DefaultSource extends RelationProvider with CreatableRelationProvider
    with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-mor"

  // ---- streaming write (the reference's continuous INSERT INTO, S8) ----

  /** `df.writeStream.format("graft.mor").option("keys", …).start(path)`:
    * each micro-batch lands as ONE keyed-upsert commit tagged with the
    * batchId — the checkpoint-aligned exactly-once contract (zpln:89
    * commit-per-checkpoint); a replayed batch is a timeline no-op. Append
    * and Update modes are both the PK-upsert collapse (the zpln:2119 sink
    * semantics); `order` ranks rows within a batch; `partition` routes
    * through the partitioned form. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val (path, keys) = pathAndKeys(parameters)
    // Complete mode re-emits the FULL result every batch: upserting it
    // accumulates forever (keys that left the result never retract) —
    // reject loudly rather than silently corrupt (Hudi sinks are
    // append/upsert-only too)
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft.mor sink supports Append/Update (keyed upsert) — Complete mode " +
        "would accumulate keys that left the result; aggregate into a view instead")
    val order = parameters.get("order")
      .map(_.split(",").toSeq.map(_.trim)).getOrElse(keys)
    new MorStreamSink(sqlContext.sparkSession, path, keys, order,
      parameters.get("partition"), policyOf(parameters),
      expectOpts = parameters.filter(_._1.toLowerCase.startsWith("expect.")))
  }

  // ---- streaming read (see MorStreamSource) -----------------------------

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    ("graft.mor", streamSourceFor(sqlContext, parameters).schema)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    streamSourceFor(sqlContext, parameters)

  private def streamSourceFor(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val (path, keys) = pathAndKeys(parameters)
    MorStreamSource(sqlContext.sparkSession, path, keys, parameters.get("partition"))
  }

  /** Declared compaction/write policy, the reference's `CREATE TABLE …
    * WITH (…)` keys verbatim (zpln:292,:2234). Persisted on first contact
    * via [[MorTable.resolve]] so every later session's handle inherits it. */
  private def policyOf(parameters: Map[String, String]): Option[MorTable.Policy] = {
    val dc = parameters.get("compaction.delta_commits").map(_.trim.toInt)
    val ds = parameters.get("compaction.delta_seconds").map(_.trim.toLong)
    val wt = parameters.get("write.tasks").map(_.trim.toInt)
    val tf = parameters.get("target.file.mb").map(_.trim.toInt)
    // async-clustering / housekeeping declarations (the service cadences —
    // TableServices.fromPolicy schedules them)
    val zc = parameters.get("clustering.zorder_cols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    val ce = parameters.get("clustering.every_commits").map(_.trim.toInt)
    val cl = parameters.get("clean.every_compactions").map(_.trim.toInt)
    val sp = parameters.get("savepoint.ttl_seconds").map(_.trim.toLong)
    if (Seq(dc, ds, wt, tf, zc, ce, cl, sp).forall(_.isEmpty)) None
    else Some(MorTable.Policy(dc.getOrElse(2), ds.getOrElse(120L),
      wt.getOrElse(0), tf.getOrElse(0),
      zc.getOrElse(Nil), ce.getOrElse(0), cl.getOrElse(0), sp.getOrElse(0L)))
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val (path, keys) = pathAndKeys(parameters)
    policyOf(parameters).foreach( // CREATE TABLE … OPTIONS declares it
      MorTable.writePolicy(sqlContext.sparkSession, path, _))
    // `asOfTimestamp` (DataFrame-API twin of SQL TIMESTAMP AS OF):
    // resolves to the last commit at or before the wall-clock instant —
    // Hudi's as.of.instant rule, same resolution the SQL path uses. A
    // partitioned table resolves through its PARENT timeline (the
    // table-global token space) — never the parent dir read as an
    // unpartitioned timeline, which is empty and yields a baffling error
    val asOfTs = parameters.get("asOfTimestamp").map { s =>
      // session-timezone parse, shared with SQL TIMESTAMP AS OF — the two
      // surfaces must resolve one string to the SAME commit
      val ms = MorDml.sessionTsToMs(sqlContext.sparkSession, s)
      LakeTable.resolve(sqlContext.sparkSession, path, keys, parameters.get("partition"))
        .commits().filter(_.commitMs <= ms).lastOption.map(_.seq)
        .getOrElse(throw new IllegalArgumentException(
          s"no commit at or before timestamp '$s' on $path"))
    }
    require(asOfTs.isEmpty || !parameters.contains("asOf"),
      "graft.mor: asOf and asOfTimestamp are mutually exclusive")
    // zero-copy onboarding in pure SQL: `bootstrap '<dir>'` adopts the
    // external parquet dir as the table's first base IFF the table has
    // no commits yet. Idempotent by that guard — every query through a
    // catalog entry re-resolves this relation, and later resolutions
    // (after the bootstrap commit, or after upserts) must no-op.
    // (the partitioned route adopts the source's Hive `<partition>=<v>/`
    // layout per child, zero-copy)
    parameters.get("bootstrap").foreach { src =>
      val t = LakeTable.resolve(sqlContext.sparkSession, path, keys,
        parameters.get("partition"))
      if (t.commits().isEmpty) { t.bootstrap(src); () }
    }
    // persistent-MV auto-registration: a base table with DDL-declared
    // views ([[graft.lake.MatViews]]) arms the optimizer rewrite on first
    // contact in ANY session — the Glue-catalog contract for MVs. One
    // fs.exists on tables without views; best-effort (a broken views.json
    // must never take down reads — the rewrite just stays cold).
    graft.lake.MatViews.autoRegister(sqlContext.sparkSession, path, keys,
      parameters.get("partition"))
    MorRelation(sqlContext, path, keys,
      asOf = parameters.get("asOf").map(_.toLong).orElse(asOfTs),
      sinceSeq = parameters.get("sinceSeq").map(_.toLong),
      changelogFrom = parameters.get("changelogFrom").map(_.toLong),
      changelogTo = parameters.get("changelogTo").map(_.toLong),
      readOptimized = parameters.get("readOptimized").exists(_.trim.toBoolean),
      partitionCol = parameters.get("partition"),
      partitionValues = partitionValues(parameters),
      expectOpts = parameters.filter(_._1.toLowerCase.startsWith("expect.")),
      maskOpts = parameters.collect {
        case (k, v) if k.toLowerCase.startsWith("mask.") =>
          k.substring("mask.".length) -> v.trim.toLowerCase
      },
      rowFilter = parameters.get("filter.where").map(_.trim).filter(_.nonEmpty))
  }

  private def expectationsOf(parameters: Map[String, String]) =
    DefaultSource.expectationsOf(parameters)

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val (path, keys) = pathAndKeys(parameters)
    val order = parameters.get("order")
      .map(_.split(",").toSeq.map(_.trim)).getOrElse(keys)
    val partCol = parameters.get("partition")
    val declared = policyOf(parameters)
    val (exps, expMode) = expectationsOf(parameters)
    def table() = {
      val t = LakeTable.resolve(sqlContext.sparkSession, path, keys, partCol, declared)
      if (exps.nonEmpty) t.withExpectations(exps, expMode) else t
    }
    def exists = table().exists()
    def upsert(): Unit = table().upsert(data, order.map(col)): Unit
    def drop(): Unit = table().drop()
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft.mor table already exists: $path")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Overwrite => drop(); upsert()
      case _ => upsert() // Append / first write: keyed upsert, Hudi's default
    }
    MorRelation(sqlContext, path, keys, partitionCol = partCol)
  }

  private def partitionValues(parameters: Map[String, String]): Seq[String] =
    parameters.get("partitionValues")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)

  private def pathAndKeys(parameters: Map[String, String]): (String, Seq[String]) = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft.mor requires a path"))
    val keys = parameters.getOrElse("keys",
      throw new IllegalArgumentException(
        "graft.mor requires OPTIONS (keys 'k1[,k2]') — the record key columns"))
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    (path, keys)
  }
}

object DefaultSource {
  /** Declared WRITE EXPECTATIONS: `'expect.<name>' = '<sql predicate>'`
    * options (+ `'expect.mode' = 'fail'|'drop'|'quarantine'`, default
    * fail) — the SQL/DataFrame/streaming surface of
    * [[graft.lake.MorTable.withExpectations]]. */
  private[mor] def expectationsOf(parameters: Map[String, String])
      : (Seq[(String, org.apache.spark.sql.Column)], String) = {
    val exps = parameters.toSeq.collect {
      case (k, v) if k.toLowerCase.startsWith("expect.") &&
          !k.equalsIgnoreCase("expect.mode") =>
        k.substring("expect.".length) -> org.apache.spark.sql.functions.expr(v)
    }.sortBy(_._1)
    val mode = parameters.find(_._1.equalsIgnoreCase("expect.mode")).map(_._2) match {
      case Some(m) if graft.lake.Expectations.modes(m) => m
      case None => "fail"
      case Some(other) => throw new IllegalArgumentException(
        s"expect.mode must be 'fail', 'drop' or 'quarantine', got '$other'")
    }
    (exps, mode)
  }
}

/** Exactly-once streaming sink: one keyed-upsert commit per micro-batch,
  * batchId on the instant (replays no-op through the timeline). Handles
  * are held for the query's lifetime so instant/scan caches amortize
  * across batches — the per-commit driver-cost discipline the CDC
  * pipeline measures. */
private[mor] final class MorStreamSink(
    spark: org.apache.spark.sql.SparkSession,
    path: String, keys: Seq[String], order: Seq[String],
    partitionCol: Option[String],
    declared: Option[MorTable.Policy],
    expectOpts: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.execution.streaming.Sink {

  private lazy val table = {
    val (exps, expMode) = DefaultSource.expectationsOf(expectOpts)
    val t = LakeTable.resolve(spark, path, keys, partitionCol, declared)
    if (exps.nonEmpty) t.withExpectations(exps, expMode) else t
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = org.apache.spark.sql.graft.GraftSqlShim.asBatchDataFrame(spark, data)
    table.upsert(batch, order.map(col), batchId): Unit
  }

  override def toString: String = s"MorStreamSink[$path]"
}

/** The (path, keys) relation: schema pinned at creation, data resolved
  * from the CURRENT timeline on every scan.
  *
  * Read modes (mirroring the engine's read surface):
  *  - default — latest snapshot;
  *  - `asOf` = commit seq/token — time-travel read ([[MorTable.readAt]];
  *    partitioned tables travel on the parent token via
  *    [[PartitionedMorTable.readAt]]);
  *  - `sinceSeq` = commit seq/token — incremental pull
  *    ([[MorTable.readIncremental]]: net effect of newer commits, latest
  *    image per touched key, `_deleted` tombstones included so a consumer
  *    sees what vanished — the Hudi incremental-query analog).
  *
  * `partition` = column name routes everything through a
  * [[PartitionedMorTable]] (the `PARTITIONED BY` lake form);
  * `partitionValues` = comma list prunes the scan to those partitions
  * without touching the others' timelines. */
final case class MorRelation(sqlContext: SQLContext, path: String,
                             keys: Seq[String],
                             asOf: Option[Long] = None,
                             sinceSeq: Option[Long] = None,
                             /** CDC read: net I/U/D rows with before_*
                               * images for tokens in (from, to] — the
                               * Hudi cdc-query analog as a relation. */
                             changelogFrom: Option[Long] = None,
                             changelogTo: Option[Long] = None,
                             /** READ-OPTIMIZED view: base files only at
                               * the last compaction boundary — Hudi's
                               * `_ro` table half ([[graft.lake.MorTable
                               * .snapshotReadOptimized]]). Register a
                               * second catalog table with this option for
                               * the classic `t_ro`/`t_rt` pair. */
                             readOptimized: Boolean = false,
                             partitionCol: Option[String] = None,
                             partitionValues: Seq[String] = Seq.empty,
                             /** `expect.*` OPTIONS — enforced on the SQL
                               * INSERT INTO write path (the reader side
                               * ignores them). */
                             expectOpts: Map[String, String] = Map.empty,
                             /** Reader ACCESS POLICY (the column-mask /
                               * row-filter governance surface): masks
                               * (`mask.<col>` = md5|pii|null) rewrite the
                               * column's VALUES before any user filter
                               * evaluates — pushed predicates on a masked
                               * column see masked semantics, never raw
                               * data; `filter.where` restricts every scan
                               * to its predicate. Key and partition
                               * columns refuse masking (they drive
                               * point/prune routing). Policy relations
                               * fail CLOSED out of the metadata-count and
                               * MV rewrites (a policy scan is not the raw
                               * table). */
                             maskOpts: Map[String, String] = Map.empty,
                             rowFilter: Option[String] = None)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  require(Seq(asOf, sinceSeq, changelogFrom).count(_.isDefined) <= 1,
    "graft.mor: asOf, sinceSeq and changelogFrom are mutually exclusive")
  require(changelogTo.isEmpty || changelogFrom.isDefined,
    "graft.mor: changelogTo needs changelogFrom")
  require(!readOptimized ||
      (asOf.isEmpty && sinceSeq.isEmpty && changelogFrom.isEmpty),
    "graft.mor: readOptimized is a snapshot view — incompatible with " +
      "asOf, sinceSeq and changelogFrom")

  // resolve() so the table's persisted compaction/write policy applies to
  // SQL writes (INSERT INTO through the catalog) from ANY session — a
  // fresh handle must compact at the declared cadence, not the defaults
  private[mor] def table: LakeTable =
    LakeTable.resolve(sqlContext.sparkSession, path, keys, partitionCol)

  private def scanDf() = (asOf, sinceSeq, changelogFrom) match {
    case _ if readOptimized => table.readOptimized(partitionValues)
    case (_, _, Some(from)) =>
      table.readChangelog(from, changelogTo.getOrElse(Long.MaxValue), partitionValues)
    case (_, Some(seq), _) => table.readIncremental(seq, partitionValues)
    case (Some(seq), _, _) => table.readAt(seq, partitionValues)
    case _ => table.read(partitionValues)
  }

  override val schema: StructType = scanDf().schema

  /** Mask keys resolved against the relation schema under the SESSION's
    * case sensitivity, validated at relation creation — a policy fails
    * CLOSED: a `mask.<col>` key that matches no schema column (typo, or a
    * case mismatch that Spark's case-insensitive resolution would have
    * accepted in a query) throws here instead of silently serving RAW
    * values at scan time, and a mask that resolves onto a key/partition
    * column (under ANY casing) is refused because point/prune routing must
    * see real values. */
  private val resolvedMasks: Map[String, String] = {
    val caseSensitive = sqlContext.sparkSession.sessionState.conf.caseSensitiveAnalysis
    def same(a: String, b: String) = if (caseSensitive) a == b else a.equalsIgnoreCase(b)
    maskOpts.map { case (k, mode) =>
      val hits = schema.fieldNames.filter(same(_, k))
      require(hits.length == 1,
        s"graft.mor: mask.$k matches ${hits.length} schema columns " +
          s"(schema: ${schema.fieldNames.mkString(", ")}) — a masked column " +
          "must resolve exactly; refusing to serve raw values")
      val c = hits.head
      require(!keys.exists(same(_, c)) && !partitionCol.exists(same(_, c)),
        s"graft.mor: key/partition column '$c' cannot be masked " +
          "(point/prune routing needs real values)")
      c -> mode
    }
  }

  /** Planner statistic: live on-disk bytes at relation creation. Without
    * it the relation reports `spark.sql.defaultSizeInBytes` (effectively
    * infinite) and a small mor dimension NEVER broadcasts in SQL joins —
    * at 100 TB the fact side would shuffle for every dim lookup.
    * Compressed parquet underestimates the in-memory size, which composes
    * safely with Spark's conservative broadcast threshold (the same
    * estimate file relations report). Pinned at creation like `schema`
    * (standard DataSource behavior); data freshness is unaffected. */
  override def sizeInBytes: Long = statsBytes
  @transient private lazy val statsBytes: Long = {
    val b = table.liveBytes()
    if (b > 0L) b else super.sizeInBytes
  }

  /** Planner CARDINALITY (surfaced through the catalog-table stats by
    * [[MorRelationStatsRule]] — v1 `BaseRelation` has no rowCount hook):
    * the manifest header's base total plus footer counts for the few live
    * deltas, all bounded driver work ([[MorTable.liveRowCount]]). With it,
    * CBO join estimation/reorder sees row counts for mor tables instead
    * of guessing from compressed bytes. Snapshot reads only — derived
    * reads (travel/incremental/CDC) have different cardinality. */
  /** Metadata-only COUNT(*): the EXACT snapshot count from manifest
    * headers ([[graft.lake.MorTable.exactLiveRowCount]]) — Some only for
    * a PLAIN snapshot read (no travel/incremental/CDC/RO) of a table at a
    * clean manifest-covered boundary; partitioned form sums the selected
    * children's header fields. Consumed by
    * [[graft.plans.MetadataCountRewrite]]. NOT pinned like the planner
    * stats — evaluated at rewrite time, so the answer tracks the live
    * timeline exactly as a scan would. */
  private[graft] def metadataCount(): Option[Long] = metadataCount(Seq.empty)

  /** [[metadataCount]] restricted to partition values a WHERE clause
    * pinned ([[graft.plans.MetadataCountRewrite]]'s pruned-count form):
    * only meaningful on a partitioned relation with no OPTIONS-level
    * partition pin of its own (composing the two pin sources would need
    * an intersection contract nobody asked for — fail closed). */
  private[graft] def metadataCount(pinned: Seq[String]): Option[Long] =
    if (asOf.isDefined || sinceSeq.isDefined || changelogFrom.isDefined ||
        readOptimized) None
    else if (pinned.isEmpty) table.exactLiveRowCount(partitionValues)
    else if (partitionValues.nonEmpty) None // two pin sources: fail closed
    else table.exactLiveRowCount(pinned)

  @transient private[mor] lazy val rowCountStat: Option[Long] =
    if (asOf.isDefined || sinceSeq.isDefined || changelogFrom.isDefined ||
        readOptimized) None // RO cardinality = base only, not the live count
    else table.liveRowCount()

  /** Planner COLUMN-LEVEL distinct counts (surfaced as
    * `CatalogColumnStat`s by [[MorRelationStatsRule]], what CBO's
    * FilterEstimation divides by for equality selectivity): a single
    * record-key column is EXACT (one live row per key — the LWW table
    * invariant, so NDV = the row count already in hand), and declared
    * stat columns read the manifest header's HLL estimates
    * ([[graft.lake.MorTable.colNdv]] — one cached header field, no job).
    * Snapshot reads of unpartitioned tables only: derived reads have
    * different cardinality, and per-child manifests would need a register
    * merge, not an estimate merge. */
  @transient private[mor] lazy val ndvStat: Map[String, Long] =
    if (asOf.isDefined || sinceSeq.isDefined || changelogFrom.isDefined ||
        readOptimized) Map.empty
    else table.plannerNdv(rowCountStat)

  /** Table-level (min, max) per stat column (manifest header; see
    * [[graft.lake.MorTable.colBounds]]). FilterEstimation treats a
    * numeric column with NO bounds as an empty interval — NDV without
    * min/max would estimate every equality to zero rows — so the rule
    * only attaches NDV for numeric columns when bounds ride along. */
  @transient private[mor] lazy val colBoundsStat: Map[String, (Double, Double)] =
    if (ndvStat.isEmpty) Map.empty
    else table.colBounds()

  /** SQL-surface pushdown (PrunedFilteredScan): `SELECT a FROM t WHERE k
    * = 'x'` through the catalog must cost what the programmatic API
    * costs, not a full-snapshot materialization. Three levels:
    *
    *  1. ROUTE: single-key equality/IN on the key column sends a plain
    *     snapshot read down [[MorTable.readForKeys]] (pushed
    *     `In(_record_key)` → bloom + row-group skip on every commit
    *     scan); equality/IN on the partition column of a partitioned
    *     table prunes to those partitions' timelines before any scan.
    *  2. PUSH: every translatable filter is applied to the inner
    *     DataFrame BEFORE `.rdd`, so Catalyst pushes it into the
    *     underlying parquet scans of base and deltas.
    *  3. PRUNE: only `requiredColumns` survive the merge plan.
    *
    * Safety: `unhandledFilters` is left at its default (all filters), so
    * Spark re-applies every predicate above this scan — a filter this
    * translation skips (or a routing subtlety) can never change results,
    * only costs. */
  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] =
    scanWithFilters(requiredColumns, filters).rdd

  private[graft] def scanWithFilters(requiredColumns: Array[String],
                                   filters: Array[Filter]): DataFrame = {
    import org.apache.spark.sql.sources._
    // partition values an equality/IN filter pins (partitioned form only)
    val pinned = partitionCol.flatMap(colValues(filters, _))
    val routed = (asOf, sinceSeq, changelogFrom) match {
      // RO view: already one pure parquet scan — key/range routing would
      // send it down the realtime (base ⟕ log) readers; partition
      // equality/IN still prunes child timelines before the scan
      case _ if readOptimized =>
        if (partitionValues.isEmpty && pinned.isDefined) table.readOptimized(pinned.get)
        else scanDf()
      // point path: key equality/IN routes the indexed point read — SQL
      // point queries inherit the record-level index when one is FRESH
      // (exact file pinning — the Hudi behavior; partitioned: per child,
      // the rest bloom-prune); the verb itself falls back to the bloom path
      // otherwise, so this route never costs a plan when no index exists.
      // Restricted to the OPTIONS partition pin or the filter's partition
      // values; key ranges prune by manifest key bounds
      case (None, None, None) =>
        val sel = if (partitionValues.nonEmpty) partitionValues
                  else pinned.getOrElse(Seq.empty)
        keyValues(filters) match {
          case Some(ks) => table.readForKeysIndexed(ks, sel)
          case None => keyRange(filters) match {
            case Some((lo, hi)) => table.readForKeyRange(lo, hi, sel)
            case None => table.read(sel)
          }
        }
      // partitioned time travel keeps partition pruning: the token read
      // restricted to the filter's partition values
      case (Some(seq), None, None) if partitionValues.isEmpty && pinned.isDefined =>
        table.readAt(seq, pinned.get)
      case _ => scanDf()
    }
    // ACCESS POLICY before any pushed user predicate evaluates: the row
    // filter restricts the scan, and masks rewrite column VALUES so the
    // user's filters (re-applied below AND above by Spark) see masked
    // semantics — applying them to raw values could OVER-filter (a
    // predicate matching a masked value never matches its raw form).
    // Key/partition columns cannot be masked (constructor refusal), so
    // the point/prune ROUTING above always ran on real values.
    val policed0 = rowFilter.foldLeft(routed)((df, p) =>
      df.filter(org.apache.spark.sql.functions.expr(p)))
    val policed = resolvedMasks.foldLeft(policed0) { case (df, (c, mode)) =>
      require(df.columns.contains(c), // resolved at creation — can't miss
        s"graft.mor: masked column '$c' absent from the scan (${df.columns.mkString(", ")})")
      // a CDC read carries the key's previous image as `before_<col>` —
      // mask it under the same mode, or the changelog leaks the raw value
      // the snapshot surface masks
      val targets = c +: Seq(s"before_$c").filter(df.columns.contains)
      targets.foldLeft(df) { (d, t) =>
        import org.apache.spark.sql.functions.{lit, md5}
        val dt = d.schema(t).dataType
        val masked = mode match {
          case "null" => lit(null).cast(dt)
          case "md5" =>
            require(dt == org.apache.spark.sql.types.StringType,
              s"graft.mor: mask.$c = md5 needs a string column, got $dt")
            md5(col(t))
          case "pii" =>
            require(dt == org.apache.spark.sql.types.StringType,
              s"graft.mor: mask.$c = pii needs a string column, got $dt")
            graft.functions.TextAnalysis.redactPii(col(t))
          case other => throw new IllegalArgumentException(
            s"graft.mor: mask.$c must be md5|pii|null, got '$other'")
        }
        d.withColumn(t, masked)
      }
    }
    val filtered = filters.flatMap(toColumn).foldLeft(policed)(_.filter(_))
    val cols = if (requiredColumns.isEmpty) Array(schema.fieldNames.head)
               else requiredColumns
    val projected = filtered.select(cols.map(col).toSeq: _*)
    if (requiredColumns.isEmpty) projected.drop(cols.head) else projected
  }

  /** Key equality/IN values translated to `_record_key` probe strings.
    * Single-key tables: the record key IS the value cast to string.
    * COMPOSITE keys: a top-level conjunction of equality/IN filters
    * covering ALL key columns builds the composite key exactly as the
    * writer does (`concat_ws("|", cast(string))`), so multi-column-key
    * point queries inherit the record-level index / bloom point path too.
    * The translation must be EXACT — a misrendered key string silently
    * DROPS rows (the restricted scan never sees them and Spark's
    * re-applied filter can't resurrect them) — so composite rendering is
    * limited to types whose Java string form provably equals Spark's
    * cast-to-string (string, integral, boolean); any other key type, a
    * missing key column, or an IN×IN cross product past 1000 probes
    * falls back to the unrouted scan. */
  private def keyValues(filters: Array[Filter]): Option[Seq[String]] = {
    import org.apache.spark.sql.sources._
    if (keys.size == 1) return colValues(filters, keys.head)
    def render(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
           _: java.lang.Byte | _: java.lang.Boolean => Some(String.valueOf(v))
      case _ => None
    }
    val perKey: Seq[Seq[String]] = keys.map { k =>
      filters.collectFirst {
        case EqualTo(a, v) if a == k && v != null && render(v).isDefined =>
          Seq(render(v).get)
        case In(a, vs) if a == k && vs.exists(_ != null) &&
            vs.forall(x => x == null || render(x).isDefined) =>
          vs.filter(_ != null).map(x => render(x).get).toSeq
      }.getOrElse(Seq.empty)
    }
    if (perKey.exists(_.isEmpty)) return None
    if (perKey.map(_.size.toLong).product > 1000L) return None
    Some(perKey.foldLeft(Seq(Vector.empty[String]))((acc, vs) =>
      for (a <- acc; v <- vs) yield a :+ v).map(_.mkString("|")))
  }

  /** Both-sided range bounds on a single STRING key column → the
    * [lo, hi) the listing-level key-bounds pruning understands
    * ([[graft.lake.MorTable.readForKeyRange]]). Exclusive lower /
    * inclusive upper bounds shift by the UTF8 immediate successor
    * (`v + "\u0000"`), exact under Spark's binary string order. Only
    * string keys: for any other type the record-key string order differs
    * from the column's value order. Safety: Spark re-applies every filter
    * above this scan, so the translation can only change costs. */
  private def keyRange(filters: Array[Filter]): Option[(String, String)] = {
    import org.apache.spark.sql.sources._
    if (keys.size != 1) return None
    val k = keys.head
    if (!schema.fields.exists(f => f.name == k &&
        f.dataType == org.apache.spark.sql.types.StringType)) return None
    def str(v: Any): Option[String] = v match {
      case s: String => Some(s); case _ => None
    }
    val lo = filters.collectFirst {
      case GreaterThanOrEqual(a, v) if a == k => str(v)
      case GreaterThan(a, v) if a == k => str(v).map(_ + "\u0000")
    }.flatten
    val hi = filters.collectFirst {
      case LessThan(a, v) if a == k => str(v)
      case LessThanOrEqual(a, v) if a == k => str(v).map(_ + "\u0000")
    }.flatten
    for (l <- lo; h <- hi) yield (l, h)
  }

  private def colValues(filters: Array[Filter], c: String): Option[Seq[String]] = {
    import org.apache.spark.sql.sources._
    filters.collectFirst {
      case EqualTo(a, v) if a == c && v != null => Seq(String.valueOf(v))
      case In(a, vs) if a == c => vs.filter(_ != null).map(String.valueOf).toSeq
    }
  }

  private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case Not(c0) => toColumn(c0).map(!_)
      case _ => None
    }
  }

  /** SQL write surface — `INSERT INTO t SELECT …` is a keyed upsert
    * (Hudi's default, the reference's Flink-SQL `INSERT INTO` semantics);
    * `INSERT OVERWRITE` replaces the table contents. Spark has already
    * cast the incoming rows to this relation's schema by position. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(asOf.isEmpty && sinceSeq.isEmpty && changelogFrom.isEmpty &&
        !readOptimized,
      "graft.mor: cannot INSERT into a time-travel, incremental, CDC or " +
        "read-optimized read")
    val (exps, expMode) = DefaultSource.expectationsOf(expectOpts)
    val t = if (exps.nonEmpty) table.withExpectations(exps, expMode) else table
    if (overwrite) t.drop()
    t.upsert(data, keys.map(col)): Unit
  }
}
