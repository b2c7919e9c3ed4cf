package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val loremA = ("spark engines shuffle data across partitions while " +
    "catalyst optimizes the logical plan and tungsten generates code for each stage")
  private val loremANear = loremA.replace("generates code", "emits bytecode")
  private val loremB = ("completely different content about cooking pasta with " +
    "tomatoes garlic basil and olive oil in a large pot of salted boiling water")

  private def corpus = Seq(
    (0L, loremA), (1L, loremA), (2L, loremANear), (3L, loremB),
    (4L, loremB + " extra"), (5L, "tiny"))
    .toDF("doc_id", "text")

  test("sketch front ends stay inside WholeStageCodegen (no fallback)") {
    graft.GraftFunctions.register(spark)
    // a real scan — a literal corpus constant-folds into a LocalTableScan
    val docs = graft.Tables.documents(spark, TestSpark.sfDir).limit(10)
    Seq("shingle_hashes(text, 3)", "token_hashes(text)",
        "minhash_md5(text, 16)", "simhash_md5(text)").foreach { fn =>
      val df = docs.selectExpr(s"$fn AS h")
      val covered = df.queryExecution.executedPlan.exists {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          w.toString().contains(fn.takeWhile(_ != '('))
        case _ => false
      }
      assert(covered, s"$fn fell out of codegen:\n${df.queryExecution.executedPlan}")
      assert(df.collect().length == 10)
    }
  }

  test("word_shingles kernel == declarative reference (raw + distinct), codegen covered") {
    graft.GraftFunctions.register(spark)
    // real corpus + hand-picked degenerates (empty, whitespace-only, <k
    // tokens, mixed \s classes, uppercase, repeated windows, NULL — the
    // reference yields [""] for NULL text and the kernel must too)
    val docs = graft.Tables.documents(spark, TestSpark.sfDir).limit(200)
      .select(col("text"))
      .unionByName(Seq(Option.empty[String]).toDF("text"))
      .unionByName(Seq("", "   ", "\t\n", "one", "one two", "AB\fC\rD",
        "UPPER lower MiXeD case", "a b a b a b a b").toDF("text"))
    // declarative raw form (the t29 reference shape)
    val toks = graft.functions.TextAnalysis.tokens(lower(col("text")))
    val rawRef = when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", slice(toks, i + 1, lit(3)))))
      .otherwise(array(concat_ws(" ", toks)))
    val cmp = docs.select(
      call_function("word_shingles", col("text"), lit(3)).as("k_raw"),
      rawRef.as("r_raw"),
      call_function("word_shingles_distinct", col("text"), lit(3)).as("k_dst"),
      Dedup.shinglesDeclarative(col("text"), 3).as("r_dst"))
    // null-safe compare: a kernel that returned NULL where the reference
    // yields [""] must COUNT as divergence, not vanish under =!='s NULL
    val bad = cmp.filter(!(col("k_raw") <=> col("r_raw")) ||
      !(col("k_dst") <=> col("r_dst"))).count()
    assert(bad == 0, "kernel must be bit-identical to the declarative form")
    // stays inside whole-stage codegen (the point of the kernel) — checked
    // on a real scan; the union's literal branch folds to a LocalTableScan
    // whose projection never codegens regardless of the expression
    val df = graft.Tables.documents(spark, TestSpark.sfDir).limit(10)
      .selectExpr("word_shingles(text, 3) AS s")
    val covered = df.queryExecution.executedPlan.exists {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        w.toString().contains("word_shingles")
      case _ => false
    }
    assert(covered, s"word_shingles fell out of codegen:\n${df.queryExecution.executedPlan}")
  }

  test("long-domain bloom: no false negatives, OR-merge law, probe codegen") {
    graft.GraftFunctions.register(spark)
    // SQL-built filter over array input == scalar replay of the same sets
    val vals = (0L until 200L).map(v => v * 0x9E3779B97F4A7C15L)
    val blob = vals.grouped(50).toSeq.toDF("hs")
      .selectExpr("bloom_agg64(hs, 4096) AS f").head().getAs[Array[Byte]]("f")
    assert(blob.length == 512)
    assert(vals.forall(v => graft.functions.expr.LongBloom.mightContain(blob, v)),
      "inserted value probed negative — false negatives are forbidden")
    // fpp sanity at this sizing: far from saturated
    val misses = (1L to 2000L).count(v =>
      graft.functions.expr.LongBloom.mightContain(blob, v * 7919L + 13L))
    assert(misses < 400, s"bloom saturated: $misses/2000 false positives")
    // probe expression survives whole-stage codegen on a real scan
    val docs = graft.Tables.documents(spark, TestSpark.sfDir).limit(10)
    val probed = docs.select(
      call_function("bloom_any64", lit(blob),
        call_function("shingle_hashes64", col("text"), lit(3))).as("hit"))
    val covered = probed.queryExecution.executedPlan.exists {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        w.toString().contains("bloom_any64")
      case _ => false
    }
    assert(covered, s"bloom_any64 fell out of codegen:\n${probed.queryExecution.executedPlan}")
    assert(probed.collect().length == 10)
  }

  test("fuzzyJoin: perturbed copies link to their canonicals, unrelated rows to nothing") {
    val incoming = Seq(
      (100L, "copy doc " + loremA),     // canonical: 0 (and its dups 1, 2)
      (103L, "copy doc " + loremB),     // canonical: 3 (and its near-dup 4)
      (110L, "entirely novel content about deep sea creatures and the " +
        "bioluminescent organs they evolved in total darkness far below"))
      .toDF("doc_id", "text")
    val links = Dedup.fuzzyJoin(corpus, incoming)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(links.contains((0L, 100L)) && links.contains((1L, 100L)),
      s"loremA copies must link to their canonicals: $links")
    assert(links.contains((3L, 103L)), s"loremB copy must link: $links")
    assert(!links.exists(_._2 == 110L), s"novel row must link to nothing: $links")
    assert(!links.exists(p => p._1 == 3L && p._2 == 100L),
      s"cross-content links must not appear: $links")
  }

  test("bloomDecontaminate == exact decontaminate (guided path is bit-identical)") {
    val docs = (0L until 60L).map { i =>
      val base = if (i % 4 == 0) loremA else if (i % 4 == 1) loremB
        else s"unique filler document number $i with nothing shared at all ${i * 31}"
      (i, base)
    }.toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" % 5 === 0)
    val corp = docs.filter($"doc_id" % 5 =!= 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val exact = key(Dedup.decontaminate(corp, bench))
    // production sizing and a deliberately tiny (collision-heavy) filter:
    // false positives must never change the output, only the work
    for (bits <- Seq(1 << 20, 256)) {
      val guided = key(Dedup.bloomDecontaminate(corp, bench, bloomBits = bits))
      assert(guided == exact, s"bits=$bits")
    }
    assert(exact.nonEmpty, "fixture degenerate: no contaminated docs")
  }

  test("connectedComponents: hash-min labels equal min reachable id; path graph converges") {
    // two components {1,2,3,7} (via chained pairs) and {10,11} — checked
    // on BOTH execution paths: the small-graph union-find (default gate)
    // and the distributed hash-min fixpoint (cap 0 forces it)
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 7L), (10L, 11L)).toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L)
    for (cap <- Seq(2000000L, 0L)) {
      val got = Dedup.connectedComponents(pairs, smallGraphEdgeCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expect, s"cap=$cap")
    }
    // a 12-node path needs ~log-d rounds of min flooding — exercises the
    // distributed fixpoint loop well past one iteration
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (cap <- Seq(2000000L, 0L)) {
      val labels = Dedup.connectedComponents(path, smallGraphEdgeCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(labels.size == 12 && labels.values.forall(_ == 0L), s"cap=$cap")
    }
  }

  test("connectedComponents refuses to ship non-converged labels") {
    // a 40-node path cannot flood its min through maxIters=2 DISTRIBUTED
    // rounds (cap 0: the union-find path is exact and never non-converged)
    val longPath = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(longPath, maxIters = 2, smallGraphEdgeCap = 0L)
    }
    assert(e.getMessage.contains("fixpoint"))
    // explicit best-effort opt-out still returns (partial) labels
    val partial = Dedup.connectedComponents(longPath, maxIters = 2,
      requireConvergence = false, smallGraphEdgeCap = 0L)
    assert(partial.count() == 40)
  }

  test("decontaminate flags corpus docs overlapping the benchmark, nothing else") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps high today"), // shares 3 shingles
      (2L, "quick brown fox"),                      // shares 1 shingle
      (3L, "completely unrelated text about spark engines")) // shares 0
      .toDF("doc_id", "text")
    val flagged = Dedup.decontaminate(corpus, bench, minShared = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged == Map(1L -> 3L), s"got $flagged")
    val loose = Dedup.decontaminate(corpus, bench, minShared = 1)
      .collect().map(_.getLong(0)).toSet
    assert(loose == Set(1L, 2L))
  }

  test("decontaminate (native hashed) equals its portable string twin") {
    // corpus fixture has identical docs, near-dups, short texts — the
    // degenerate shingle cases where hashed/string shingling could diverge
    val bench = corpus.filter($"doc_id" % 2 === 0)
    val train = corpus.filter($"doc_id" % 2 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(Dedup.decontaminate(train, bench, minShared = 1)) ==
      rows(Dedup.decontaminatePortable(train, bench, minShared = 1)))
  }

  test("substringDupStats: exact span coverage on a planted shared passage") {
    // docs 0 and 1 share an exact 8-token passage inside otherwise-unique
    // text; doc 2 is unrelated; doc 3 is shorter than k (zero windows).
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, "u0 u1 u2 u3 u4 u5 " + shared + " v0 v1 v2 v3 v4"),
      (1L, "w0 w1 w2 " + shared + " x0 x1"),
      (2L, "y0 y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12 y13"),
      (3L, "z0 z1 z2")).toDF("doc_id", "text")
    val out = Dedup.substringDupStats(docs, k = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // k=5 windows fully inside the 8-token shared run: 4 starts; their
    // interval union covers exactly the 8 shared tokens. Windows touching
    // the unique context differ across docs, so coverage never bleeds out.
    assert(out(0L) == ((19L, 15L, 4L, 8L)))
    assert(out(1L) == ((13L, 9L, 4L, 8L)))
    assert(out(2L) == ((14L, 10L, 0L, 0L)))
    assert(out(3L) == ((3L, 0L, 0L, 0L)))
  }

  test("shingle_hashes_pos: positional windows carry the shingle_hashes64 set") {
    graft.GraftFunctions.register(spark)
    // law: distinct(positional hashes) == the distinct-set kernel, and the
    // array length is exactly n - k + 1 — checked over real corpus docs
    val docs = graft.Tables.documents(spark, TestSpark.sfDir).limit(50)
    val both = docs.selectExpr(
      "size(shingle_hashes_pos(text, 16)) AS m",
      "size(filter(split(text, '\\\\s+'), t -> t <> '')) AS n",
      "array_sort(array_distinct(shingle_hashes_pos(text, 16))) AS p",
      "array_sort(shingle_hashes64(text, 16)) AS s").collect()
    both.foreach { r =>
      assert(r.getInt(0) == math.max(r.getInt(1) - 15, 0))
      if (r.getInt(1) >= 16) assert(r.getSeq[Long](2) == r.getSeq[Long](3))
    }
    // and the production pipeline keeps min/max dup detection Expand-free
    // (">= 2 distinct docs" must not plan a count-distinct Expand)
    val plan = Dedup.substringDupStats(
      docs.select("doc_id", "text")).queryExecution.executedPlan
    assert(!plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.ExpandExec]),
      s"distinct-count Expand leaked into the dup-detection plan:\n$plan")
  }

  test("exactDedup keeps the smallest id per identical text") {
    val kept = Dedup.exactDedup(corpus).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 3L, 4L, 5L))
  }

  test("minhashLsh finds near-dups, not unrelated pairs; est tracks exact jaccard") {
    val pairs = Dedup.minhashLsh(corpus, threshold = 0.3)
    val got = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)))           // identical
    assert(got.contains((0L, 2L)) || got.contains((1L, 2L))) // near-dup
    assert(!got.exists { case (a, b) => Set(a, b).subsetOf(Set(0L, 1L, 2L)) == false &&
      (Set(a, b) & Set(0L, 1L, 2L)).nonEmpty && (Set(a, b) & Set(3L, 4L)).nonEmpty })
    // verify stage: exact jaccard of the identical pair is 1.0
    val verified = Dedup.ngramJaccard(pairs, corpus)
    val j01 = verified.filter($"id_a" === 0 && $"id_b" === 1).head().getAs[Double]("jaccard")
    assert(j01 == 1.0)
  }

  test("ngramJaccardPairs: exact integer inter/uni, threshold honored") {
    val pairs = Dedup.ngramJaccardPairs(corpus) // jaccard >= 0.3
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // identical docs: inter == uni (jaccard 1)
    val (i01, u01) = pairs((0L, 1L))
    assert(i01 == u01 && i01 > 0)
    // near-dup pair present with inter < uni; cross-topic pairs absent
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L))._1 < pairs((0L, 2L))._2)
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((2L, 4L)))
    // matches the array-based verify-stage jaccard on a shared pair
    val j = Dedup.ngramJaccard(
      Seq((0L, 2L)).toDF("id_a", "id_b"), corpus).head().getAs[Double]("jaccard")
    val (i02, u02) = pairs((0L, 2L))
    assert(math.abs(j - i02.toDouble / u02) < 1e-12)
  }

  test("ngramJaccardPairs hot-shingle cap: no false positives, near-dups survive") {
    // every doc shares one boilerplate sentence (the hot shingles); only
    // 0/1 are otherwise identical
    val boiler = "this document is provided under the standard license terms"
    val hot = Seq(
      (0L, s"$boiler $loremA"), (1L, s"$boiler $loremA"),
      (2L, s"$boiler $loremB"), (3L, s"$boiler completely unrelated text about astronomy and telescopes and planetary orbits"))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(hot, maxDocFreq = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((0L, 1L)),
      s"cap must keep the true near-dup and drop boilerplate-only pairs, got $capped")
    // uncapped finds the same pair too (sanity: cap only removes candidates)
    val full = Dedup.ngramJaccardPairs(hot)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((0L, 1L)) && capped.subsetOf(full))
  }

  test("estJaccard equals 1 on identical signatures") {
    val sig = Dedup.minhashSignature(Dedup.shingleHashes(lit(loremA)))
    val df = spark.range(1).select(Dedup.estJaccard(sig, sig).as("j"))
    assert(df.head().getDouble(0) == 1.0)
  }

  test("sig_overlap threshold == interpreted slot-count fold on candidate pairs (d31 kernel)") {
    graft.GraftFunctions.register(spark)
    // every cross pair of the corpus — including identical, near, unrelated
    val sigs = corpus.select(col("doc_id"),
      call_function("minhash_md5", col("text"), lit(16)).as("sig"))
    val pairs = sigs.as("a").crossJoin(
      sigs.select(col("doc_id").as("p_id"), col("sig").as("p_sig")).as("b"))
      .filter(col("p_id") < col("doc_id"))
    val minMatch = 4
    val fold = pairs.filter(aggregate(zip_with(col("sig"), col("p_sig"),
        (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (s, x) => s + x)
        >= minMatch)
      .select("doc_id", "p_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the compiled kernel form d31 ships: eq/16.0 is exact (power-of-two
    // divisor), so the fraction threshold must equal the integer count
    val kernel = pairs.filter(
        call_function("sig_overlap", col("sig"), col("p_sig")) >= lit(minMatch / 16.0))
      .select("doc_id", "p_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kernel == fold)
    assert(kernel.contains((1L, 0L)), "identical docs must pass the slot threshold")
  }

  test("sig_matches / sig_overlap: a null element never matches (zip_with reference)") {
    graft.GraftFunctions.register(spark)
    val nul = lit(null).cast("bigint")
    def sig(vs: Column*) = array(vs: _*)
    // arrays picked per row from `id`, so the projection runs compiled
    // rather than constant-folded
    val pairs = spark.range(3).select(
      when(col("id") === 0, sig(lit(1L), nul, lit(3L), nul))
        .when(col("id") === 1, sig(nul, nul, lit(0L), lit(5L)))
        .otherwise(sig(lit(7L), lit(8L), lit(9L), lit(10L))).as("a"),
      when(col("id") === 0, sig(lit(1L), nul, lit(0L), lit(4L)))
        .when(col("id") === 1, sig(lit(0L), nul, lit(0L), lit(5L)))
        .otherwise(sig(lit(7L), nul, lit(9L), lit(10L))).as("b"))
    val eq = zip_with(col("a"), col("b"), (x, y) => x === y)
    val got = pairs.select(
      call_function("sig_matches", col("a"), col("b")),
      call_function("sig_overlap", col("a"), col("b")),
      aggregate(eq, lit(0L), (s, e) => s + when(e, 1L).otherwise(0L)),
      size(filter(eq, e => e)) / size(col("a")))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got.map(g => (g._1, g._2)) == got.map(g => (g._3, g._4)))
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    // the interpreted path agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def lits(xs: java.lang.Long*) = Literal.create(xs.toSeq, ArrayType(LongType))
    val (a, b) = (lits(1L, null, 3L, null), lits(1L, null, 0L, 4L))
    assert(graft.functions.expr.SigMatches(a, b).eval() == 1L)
    assert(graft.functions.expr.SigOverlap(a, b).eval() == 0.25)
  }

  test("token_hashes: multiset order-preserving, lowercase, shingle-consistent") {
    graft.GraftFunctions.register(spark)
    def th(s: String): Seq[Long] =
      spark.range(1).select(call_function("token_hashes", lit(s)).as("h"))
        .head().getSeq[Long](0)
    // multiset: repeated token keeps both occurrences, order preserved
    val aba = th("alpha beta alpha")
    assert(aba.length == 3 && aba(0) == aba(2) && aba(0) != aba(1))
    // case-insensitive, whitespace-class split
    assert(th("Alpha\tBETA\n alpha ") == aba)
    assert(th("") == Seq.empty && th("  \n ") == Seq.empty)
    // same tokenizer+hash family as shingle_hashes: equal distinct token
    // count implies the k=1 shingle set has the same cardinality
    val sh1 = spark.range(1)
      .select(call_function("shingle_hashes64", lit("alpha beta alpha"), lit(1)).as("h"))
      .head().getSeq[Long](0)
    assert(sh1.length == aba.distinct.length)
  }

  test("minhash_md5: identical texts match on all 16; unrelated on almost none") {
    graft.GraftFunctions.register(spark)
    def sig(s: String): Seq[Long] =
      spark.range(1).select(call_function("minhash_md5", lit(s), lit(16)).as("s"))
        .head().getSeq[Long](0)
    assert(sig(loremA) == sig(loremA) && sig(loremA).length == 16)
    val matches = sig(loremA).zip(sig(loremB)).count { case (x, y) => x == y }
    assert(matches <= 2, s"unrelated texts matched $matches/16 components")
    // near-dup texts share most components (their shingle sets mostly overlap)
    val near = sig(loremA).zip(sig(loremANear)).count { case (x, y) => x == y }
    assert(near >= 8, s"near-dup texts matched only $near/16 components")
    // values are 32-bit unsigned (first 4 md5 bytes) — the portable range
    assert(sig(loremA).forall(v => v >= 0 && v <= 0xffffffffL))
  }

  test("simhash_md5: hamming locality holds in the portable family too") {
    graft.GraftFunctions.register(spark)
    def sh(s: String): Long = {
      val ch = spark.range(1).select(call_function("simhash_md5", lit(s)).as("c"))
        .head().getSeq[Long](0)
      ch(0) | (ch(1) << 16) | (ch(2) << 32) | (ch(3) << 48)
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(loremA), sh(loremA)) == 0)
    assert(ham(sh(loremA), sh(loremANear)) < ham(sh(loremA), sh(loremB)))
  }

  test("simhash: identical texts hamming 0; near texts small; unrelated large") {
    val sigs = corpus.select($"doc_id", Dedup.simhash64($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(0, 1) == 0)
    assert(ham(0, 2) < ham(0, 3))
    val pairs = Dedup.simhashNearDup(corpus, maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L)))
  }

  test("exactDedup on real documents table is the identity (no dupes in testdata)") {
    val docs = graft.Tables.documents(spark, TestSpark.sfDir)
    assert(Dedup.exactDedup(docs).count() == docs.count())
  }
}
