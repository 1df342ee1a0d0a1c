package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` embedding columns — the hot inner loop of the ANN /
  * near-dup operators.
  *
  * Why a custom Expression (SURVEY §7.5 promotion rule): the composable
  * formula `aggregate(zip_with(a, b, (x, y) -> …), …)` allocates an
  * intermediate array and interprets two lambda closures per row-pair; at
  * 100 TB the pairwise scorer dominates ANN cost. This expression stays
  * inside whole-stage codegen as one fused primitive loop — no
  * allocations, no virtual calls.
  *
  * Semantics match the composed form bit-for-bit — INCLUDING its edges:
  * strictly index-ordered double accumulation, dot / (sqrt(na) *
  * sqrt(nb)); mismatched lengths are NULL (zip_with pads with nulls →
  * the aggregate is NULL), a null element is NULL, and a zero-norm side
  * is NULL (Divide by zero → NULL in non-ANSI Spark). So the DuckDB
  * oracle parity of the composed version carries over unchanged, and
  * malformed rows surface as NULL instead of plausible scores
  * (CosineSimilaritySpec asserts exact equality).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<float> inputs, got (${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // NULL on length mismatch / null element / zero norm, regardless of
  // child nullability
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0d
    var nx = 0d
    var ny = 0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0d) null else dot / denom
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0d, $nx = 0d, $ny = 0d;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = (double) $x.getFloat($i);
         |    double $yi = (double) $y.getFloat($i);
         |    $dot += $xi * $yi;
         |    $nx += $xi * $xi;
         |    $ny += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |    if ($denom == 0d) ${ev.isNull} = true; else ${ev.value} = $dot / $denom;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** SQL builder with an arity check (shared by register and the
    * session-extensions injector so the two paths can't drift). */
  val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimilarity(a, b)
    case other => throw new IllegalArgumentException(
      s"cosine_sim expects exactly 2 arguments (array<float>, array<float>), got ${other.length}")
  }

  val dotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => FloatDot(a, b)
    case other => throw new IllegalArgumentException(
      s"float_dot expects exactly 2 arguments (array<float|double> ×2), got ${other.length}")
  }

  val intDotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => IntDot(a, b)
    case other => throw new IllegalArgumentException(
      s"int_dot expects exactly 2 arguments (array<bigint> ×2), got ${other.length}")
  }

  /** Register `cosine_sim(a, b)`, `float_dot(a, b)` and `int_dot(a, b)`,
    * each only if the session lacks it: query builders call this on every
    * build, and replacing a registered function logs a warning. */
  def register(spark: SparkSession): Unit = {
    graft.GraftExtensions.registerExpressionOnce(spark, "cosine_sim", classOf[CosineSimilarity], builder)
    graft.GraftExtensions.registerExpressionOnce(spark, "float_dot", classOf[FloatDot], dotBuilder)
    graft.GraftExtensions.registerExpressionOnce(spark, "int_dot", classOf[IntDot], intDotBuilder)
  }
}

/** Array dot product (codegen'd fused loop); each side may be
  * `array<float>` or `array<double>`, accumulation always in double.
  * Used with precomputed norms where cosine_sim's per-pair norm recompute
  * would triple the arithmetic (brute-force top-k scores every pair
  * against the same target set), and against literal double hyperplanes
  * for sign-LSH bucketing. Accumulation order matches the composed
  * `aggregate(zip_with(...))` fold exactly (float elements widened to
  * double per-element, like `CAST(embedding[i] AS DOUBLE)`) — including
  * the edges: mismatched lengths and null elements are NULL, like the
  * composed form; two empty arrays are 0.0 (the fold's init). */
case class FloatDot(left: Expression, right: Expression) extends BinaryExpression {

  private def elemOk(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _                                                  => false
  }
  // invariant for the expression's lifetime — hoisted out of the per-row path
  private lazy val leftFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  private lazy val rightFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(elemOk)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot requires array<float|double> inputs, got (${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      i += 1
    }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      def get(v: String, fl: Boolean) =
        if (fl) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0d;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += ${get(x, leftFloat)} * ${get(y, rightFloat)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer array dot product (codegen'd fused loop) over two
  * `array<bigint>` columns — the int8-code scorer of the quantized ANN
  * path (x_sim_ivfq_md5), where the composed
  * `aggregate(zip_with(a, b, (x, y) -> x*y), 0L, (acc, x) -> acc + x)`
  * interprets two lambda closures and allocates a product array per
  * candidate pair. Semantics match that composed fold exactly:
  * mismatched lengths are NULL (zip_with pads with null → the running
  * sum turns null), a null element is NULL, two empty arrays are 0 (the
  * fold's init). Products of int8-range codes are ≤ 127² · dims — no
  * overflow anywhere near bigint. */
case class IntDot(left: Expression, right: Expression) extends BinaryExpression {

  private def elemOk(e: Expression): Boolean = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) => true
    case _                                                 => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(elemOk)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int_dot requires array<bigint> inputs, got (${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "int_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += x.getLong(i) * y.getLong(i)
      i += 1
    }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += $x.getLong($i) * $y.getLong($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
