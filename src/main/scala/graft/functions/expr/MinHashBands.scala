package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** LSH band hashes for a MinHash signature: signature split into `bands`
  * equal slices, each folded to one 64-bit bucket id with a splitmix-style
  * chain seeded by the band index (so band b's buckets never collide with
  * band b'). Replaces the interpreted slice→cast-string→concat_ws→xxhash64
  * pipeline with one compiled loop — no string allocation at all.
  */
case class MinHashBands(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands expects (array<bigint>, literal int), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  private def mix(acc: Long, x: Long): Long = {
    var z = acc ^ (x + 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  override protected def nullSafeEval(sigAny: Any, bandsAny: Any): Any = {
    val sig = sigAny.asInstanceOf[ArrayData]
    val bands = bandsAny.asInstanceOf[Int]
    val n = sig.numElements()
    val per = n / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = mix(0L, b.toLong)
      var j = 0
      while (j < per) { acc = mix(acc, sig.getLong(b * per + j)); j += 1 }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sig, bands) => {
      val n = ctx.freshName("n"); val per = ctx.freshName("per")
      val out = ctx.freshName("out"); val b = ctx.freshName("b")
      val j = ctx.freshName("j"); val acc = ctx.freshName("acc")
      val z = ctx.freshName("z"); val x = ctx.freshName("x")
      // splitmix chain inlined (same constants as nullSafeEval.mix)
      def mixCode(a: String, v: String): String =
        s"""long $z = $a ^ ($v + 0x9E3779B97F4A7C15L);
           |$z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
           |$z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
           |$a = $z ^ ($z >>> 31);""".stripMargin
      s"""
         |int $n = $sig.numElements();
         |int $per = $n / $bands;
         |long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $acc = 0L;
         |  { long $x = (long) $b; ${mixCode(acc, x)} }
         |  for (int $j = 0; $j < $per; $j++) {
         |    long $x = $sig.getLong($b * $per + $j);
         |    ${mixCode(acc, x)}
         |  }
         |  $out[$b] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashBands =
    copy(left = newLeft, right = newRight)
}

object MinHashBands {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[MinHashBands].getName, "minhash_bands")
}

/** Fraction of equal components between two equal-length long arrays — the
  * MinHash Jaccard estimate, compiled (the zip_with/filter form allocates
  * two intermediate arrays per pair and runs interpreted — this is the
  * inner loop of candidate verification, executed once per candidate pair).
  */
case class SigOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"sig_overlap expects (array<bigint>, array<bigint>), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sig_overlap"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var eq = 0; var i = 0
    while (i < n) { if (SigOverlap.slotMatch(x, y, i)) eq += 1; i += 1 }
    if (n == 0) 0.0 else eq.toDouble / n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val eq = ctx.freshName("eq"); val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $eq = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (${SigOverlap.slotMatchCode(a, b, i)}) $eq++;
         |}
         |${ev.value} = ($n == 0) ? 0.0 : ((double) $eq) / $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigOverlap =
    copy(left = newLeft, right = newRight)
}

object SigOverlap {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[SigOverlap].getName, "sig_overlap")

  /** Slot `i` matches when both elements are non-null and equal — a null
    * never matches, not even another null (the declarative reference
    * `filter(zip_with(a, b, (x, y) => x = y), e -> e)` drops the null
    * comparison). */
  private[expr] def slotMatch(x: ArrayData, y: ArrayData, i: Int): Boolean =
    !x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)

  /** [[slotMatch]] as generated Java. */
  private[expr] def slotMatchCode(a: String, b: String, i: String): String =
    s"!$a.isNullAt($i) && !$b.isNullAt($i) && $a.getLong($i) == $b.getLong($i)"
}

/** Count of equal components between two equal-length long arrays — the
  * integer form of [[SigOverlap]] for consumers whose output is the match
  * COUNT (d8's `n_match >= 4` band filter). Same compiled per-pair loop;
  * replaces an interpreted aggregate-over-zip_with ladder that allocated
  * an intermediate array per candidate pair.
  */
case class SigMatches(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"sig_matches expects (array<bigint>, array<bigint>), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "sig_matches"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var eq = 0L; var i = 0
    while (i < n) { if (SigOverlap.slotMatch(x, y, i)) eq += 1; i += 1 }
    eq
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (${SigOverlap.slotMatchCode(a, b, i)}) ${ev.value}++;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatches =
    copy(left = newLeft, right = newRight)
}

object SigMatches {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[SigMatches].getName, "sig_matches")
}
