package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.call_function
import graft.functions.expr.{BloomAny64, C4Rules, CmsAgg, CosineSimilarity, HistAgg, HllAgg, KeyBloomAgg, KeyBloomContains, KeyBloomContainsAny, LangId, LongBloomAgg, LshBuckets, LshBucketsMd5, MinHashAgg, MinHashBands, MinHashSignature, MinHashMd5, NearestCells, PqEncode, Quantize127, ShingleHashes, TextQuality, UnicodeClean, GopherMetrics, GopherNgrams, DedupLines, SigOverlap, SigMatches, SimHashChunks, SimHashMd5, TokenHashes, TopKRowsAgg, WordShingles, MmrSelect}

/** Engine extension wiring.
  *
  * Two ways in, same registry entries:
  *  - `spark.sql.extensions=graft.GraftExtensions` at session build
  *    (the production path — SparkSessionExtensions.injectFunction), or
  *  - `GraftFunctions.register(spark)` on a live session (tests, Verify).
  *
  * SQL surface after registration: `SELECT cosine_sim(a.embedding, b.embedding)`.
  *
  * Engine-wide Spark defaults live here too ([[GraftExtensions.sparkDefaults]]):
  * `apply` is the one hook every graft session installs, and it runs after
  * the SparkContext exists but before the session's shared state clones its
  * conf. A value the user set always wins (set-if-missing), and a new
  * default goes in only with a measured A/B behind it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.sql.graft.GraftSqlShim.setConfDefaults(GraftExtensions.sparkDefaults)
    ext.injectFunction((FunctionIdentifier("cosine_sim"), CosineSimilarity.info,
      exprs => CosineSimilarity(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("minhash_agg"), MinHashAgg.info,
      exprs => MinHashAgg(exprs.head, MinHashAgg.widthOf(exprs)).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("hll_agg"), HllAgg.info,
      exprs => HllAgg(exprs.head, HllAgg.precisionOf(exprs)).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("key_bloom_agg"), KeyBloomAgg.info,
      exprs => KeyBloomAgg(exprs.head, KeyBloomAgg.bitsOf(exprs)).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("key_bloom_contains"), KeyBloomContains.info,
      exprs => KeyBloomContains(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("key_bloom_contains_any"), KeyBloomContainsAny.info,
      exprs => KeyBloomContainsAny(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("bloom_agg64"), LongBloomAgg.info,
      exprs => LongBloomAgg(exprs.head, LongBloomAgg.bitsOf(exprs)).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("bloom_any64"), BloomAny64.info,
      exprs => BloomAny64(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("cms_agg"), CmsAgg.info,
      exprs => CmsAgg(exprs.head, CmsAgg.depthOf(exprs), CmsAgg.widthOf(exprs))
        .toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("hist_agg"), HistAgg.info,
      exprs => HistAgg(exprs.head, HistAgg.loOf(exprs), HistAgg.hiOf(exprs),
        HistAgg.binsOf(exprs)).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("minhash_sig"), MinHashSignature.info,
      exprs => MinHashSignature(exprs.head)))
    ext.injectFunction((FunctionIdentifier("simhash_chunks"), SimHashChunks.info,
      exprs => SimHashChunks(exprs.head)))
    ext.injectFunction((FunctionIdentifier("minhash_bands"), MinHashBands.info,
      exprs => MinHashBands(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("sig_overlap"), SigOverlap.info,
      exprs => SigOverlap(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("sig_matches"), SigMatches.info,
      exprs => SigMatches(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("shingle_hashes"), ShingleHashes.info,
      exprs => ShingleHashes(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("shingle_hashes64"), ShingleHashes.info64,
      exprs => ShingleHashes(exprs.head, exprs(1), raw = true)))
    ext.injectFunction((FunctionIdentifier("shingle_hashes_pos"), ShingleHashes.infoPos,
      exprs => ShingleHashes(exprs.head, exprs(1), raw = true, positional = true)))
    ext.injectFunction((FunctionIdentifier("word_shingles"), WordShingles.info,
      exprs => WordShingles(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("word_shingles_distinct"), WordShingles.infoDistinct,
      exprs => WordShingles(exprs.head, exprs(1), distinct = true)))
    ext.injectFunction((FunctionIdentifier("mmr_select"), MmrSelect.info,
      exprs => MmrSelect(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((FunctionIdentifier("token_hashes"), TokenHashes.info,
      exprs => TokenHashes(exprs.head)))
    ext.injectFunction((FunctionIdentifier("minhash_md5"), MinHashMd5.info,
      exprs => MinHashMd5(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("simhash_md5"), SimHashMd5.info,
      exprs => SimHashMd5(exprs.head)))
    ext.injectFunction((FunctionIdentifier("lsh_buckets"), LshBuckets.info,
      exprs => LshBuckets(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((FunctionIdentifier("lsh_buckets_md5"), LshBucketsMd5.info,
      exprs => LshBucketsMd5(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((FunctionIdentifier("nearest_cells"), NearestCells.info,
      exprs => NearestCells(exprs.head, exprs(1), exprs(2), exprs(3))))
    ext.injectFunction((FunctionIdentifier("quantize127"), Quantize127.info,
      exprs => Quantize127(exprs.head)))
    ext.injectFunction((FunctionIdentifier("pq_encode"), PqEncode.info,
      exprs => PqEncode(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((FunctionIdentifier("text_quality"), TextQuality.info,
      exprs => TextQuality(exprs.head)))
    ext.injectFunction((FunctionIdentifier("gopher_metrics"), GopherMetrics.info,
      exprs => GopherMetrics(exprs.head)))
    ext.injectFunction((FunctionIdentifier("dedup_lines"), DedupLines.info,
      exprs => DedupLines(exprs.head)))
    ext.injectFunction((FunctionIdentifier("gopher_ngrams"), GopherNgrams.info,
      exprs => GopherNgrams(exprs.head)))
    ext.injectFunction((FunctionIdentifier("c4_rules"), C4Rules.info,
      exprs => C4Rules(exprs.head)))
    ext.injectFunction((FunctionIdentifier("unicode_clean"), UnicodeClean.info,
      exprs => UnicodeClean(exprs.head)))
    ext.injectFunction((FunctionIdentifier("lang_id"), LangId.info,
      exprs => LangId(exprs.head)))
    ext.injectFunction((FunctionIdentifier("topk_rows"), TopKRowsAgg.info,
      exprs => TopKRowsAgg(exprs.head, exprs(1),
        TopKRowsAgg.kOf(exprs), TopKRowsAgg.ascOf(exprs))))
    // DDL spellings Spark's grammar lacks (CREATE TABLE … SHALLOW CLONE):
    // one regex gate, everything else delegates to the session parser
    ext.injectParser((_, delegate) => new graft.mor.GraftSqlParser(delegate))
    ext.injectResolutionRule(session => new MorRelationResolution(session))
    // SQL-text row-level DML (DELETE FROM / UPDATE / MERGE INTO) onto the
    // engine's deleteWhere/updateWhere/changelog verbs — post-hoc so the
    // statements arrive fully resolved, before checkAnalysis rejects v1
    ext.injectPostHocResolutionRule(session => new graft.mor.MorDmlResolution(session))
    // rowCount planner statistic for catalog-read mor relations (v1 has
    // no rowCount hook; CBO join estimation reads catalog-table stats)
    ext.injectPostHocResolutionRule(session => new graft.mor.MorRelationStatsRule(session))
    // VERSION AS OF / TIMESTAMP AS OF over graft.mor catalog tables.
    // HINT-batch injection on purpose: the rule must fire BEFORE the main
    // resolution batch, whose V2SessionCatalog lookup throws
    // TIME_TRAVEL-unsupported for v1 providers the moment it sees the
    // node (extended resolution rules would never run).
    ext.injectHintResolutionRule(session => new graft.mor.MorTimeTravelResolution(session))
    ext.injectOptimizerRule(session => new graft.plans.ApproxDistinctRewrite(session))
    ext.injectOptimizerRule(session => new graft.plans.TopKRewrite(session))
    // metadata-only COUNT(*) over mor snapshot scans at a clean boundary
    ext.injectOptimizerRule(session => new graft.plans.MetadataCountRewrite(session))
    ext.injectOptimizerRule(session => new graft.plans.ViewRewrite(session))
  }
}

object GraftExtensions {
  /** Spark defaults every graft session gets unless the user set the key.
    *
    * The code generator compiles each generated source once and caches the
    * class, keyed by the source text. graft re-plans the same micro-batch,
    * MERGE and snapshot shapes on every commit, and their working set is
    * a few hundred sources, which Spark's default cache of 100 keeps
    * evicting. The class name embeds the codegen stage id unless
    * `useIdInClassName` is off, so one pipeline planned at two stage ids
    * was two cache entries. With both defaults a seed-1 ticket_transfers
    * benchmark run compiles 302 classes instead of 975. The cache size is
    * a static conf, read once when the code generator builds its cache. */
  val sparkDefaults: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.codegen.useIdInClassName" -> "false")
}

/** Analyzer rule: resolve a [[GraftCatalog]]-registered table name to a
  * FRESH MOR snapshot plan — built from the table's CURRENT timeline — on
  * every query. This is what makes `spark.sql("SELECT * FROM ticket_view")`
  * behave like the reference's Athena-over-Glue reads (each query sees the
  * latest commit) instead of a stale registered-at-snapshot view. */
class MorRelationResolution(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u: UnresolvedRelation if u.multipartIdentifier.size == 1 &&
        GraftCatalog.lookup(spark, u.multipartIdentifier.head).isDefined =>
      GraftCatalog.lookup(spark, u.multipartIdentifier.head).get
        .apply().queryExecution.analyzed
  }
}

object GraftFunctions {
  /** Idempotent runtime registration on an existing session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("cosine_sim"), CosineSimilarity.info,
      exprs => CosineSimilarity(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("minhash_agg"), MinHashAgg.info,
      exprs => MinHashAgg(exprs.head, MinHashAgg.widthOf(exprs)).toAggregateExpression())
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("hll_agg"), HllAgg.info,
      exprs => HllAgg(exprs.head, HllAgg.precisionOf(exprs)).toAggregateExpression())
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("key_bloom_agg"), KeyBloomAgg.info,
      exprs => KeyBloomAgg(exprs.head, KeyBloomAgg.bitsOf(exprs)).toAggregateExpression())
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("key_bloom_contains"), KeyBloomContains.info,
      exprs => KeyBloomContains(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("key_bloom_contains_any"), KeyBloomContainsAny.info,
      exprs => KeyBloomContainsAny(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("bloom_agg64"), LongBloomAgg.info,
      exprs => LongBloomAgg(exprs.head, LongBloomAgg.bitsOf(exprs)).toAggregateExpression())
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("bloom_any64"), BloomAny64.info,
      exprs => BloomAny64(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("cms_agg"), CmsAgg.info,
      exprs => CmsAgg(exprs.head, CmsAgg.depthOf(exprs), CmsAgg.widthOf(exprs))
        .toAggregateExpression())
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("hist_agg"), HistAgg.info,
      exprs => HistAgg(exprs.head, HistAgg.loOf(exprs), HistAgg.hiOf(exprs),
        HistAgg.binsOf(exprs)).toAggregateExpression())
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("minhash_sig"), MinHashSignature.info,
      exprs => MinHashSignature(exprs.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("simhash_chunks"), SimHashChunks.info,
      exprs => SimHashChunks(exprs.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("minhash_bands"), MinHashBands.info,
      exprs => MinHashBands(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("sig_overlap"), SigOverlap.info,
      exprs => SigOverlap(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("sig_matches"), SigMatches.info,
      exprs => SigMatches(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("shingle_hashes"), ShingleHashes.info,
      exprs => ShingleHashes(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("shingle_hashes64"), ShingleHashes.info64,
      exprs => ShingleHashes(exprs.head, exprs(1), raw = true))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("shingle_hashes_pos"), ShingleHashes.infoPos,
      exprs => ShingleHashes(exprs.head, exprs(1), raw = true, positional = true))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("word_shingles"), WordShingles.info,
      exprs => WordShingles(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("word_shingles_distinct"), WordShingles.infoDistinct,
      exprs => WordShingles(exprs.head, exprs(1), distinct = true))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("mmr_select"), MmrSelect.info,
      exprs => MmrSelect(exprs.head, exprs(1), exprs(2)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("token_hashes"), TokenHashes.info,
      exprs => TokenHashes(exprs.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("topk_rows"), TopKRowsAgg.info,
      exprs => TopKRowsAgg(exprs.head, exprs(1),
        TopKRowsAgg.kOf(exprs), TopKRowsAgg.ascOf(exprs)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("minhash_md5"), MinHashMd5.info,
      exprs => MinHashMd5(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("simhash_md5"), SimHashMd5.info,
      exprs => SimHashMd5(exprs.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("lsh_buckets"), LshBuckets.info,
      exprs => LshBuckets(exprs.head, exprs(1), exprs(2)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("lsh_buckets_md5"), LshBucketsMd5.info,
      exprs => LshBucketsMd5(exprs.head, exprs(1), exprs(2)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("nearest_cells"), NearestCells.info,
      exprs => NearestCells(exprs.head, exprs(1), exprs(2), exprs(3)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("quantize127"), Quantize127.info,
      exprs => Quantize127(exprs.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("pq_encode"), PqEncode.info,
      exprs => PqEncode(exprs.head, exprs(1), exprs(2)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("text_quality"), TextQuality.info,
      exprs => TextQuality(exprs.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("gopher_metrics"), GopherMetrics.info,
      exprs => GopherMetrics(exprs.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("dedup_lines"), DedupLines.info,
      exprs => DedupLines(exprs.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("gopher_ngrams"), GopherNgrams.info,
      exprs => GopherNgrams(exprs.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("c4_rules"), C4Rules.info,
      exprs => C4Rules(exprs.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("unicode_clean"), UnicodeClean.info,
      exprs => UnicodeClean(exprs.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("lang_id"), LangId.info,
      exprs => LangId(exprs.head))
  }

  /** Column-API form of the native expression. */
  def cosineSim(a: Column, b: Column)(implicit spark: SparkSession): Column = {
    register(spark)
    call_function("cosine_sim", a, b)
  }
}
