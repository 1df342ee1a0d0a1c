package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native 64-bit SimHash: `simhash64(tokens)` over an `array<string>`
  * token multiset (duplicates weigh in) returns the classic Charikar
  * signature as one LONG.
  *
  * Why a custom Expression (SURVEY §7.5 promotion rule): the composable
  * round-1 formulation exploded every token into a 64-element ±1 vector
  * and zip_with-summed them in an interpreted aggregate — a (doc, token)
  * shuffle carrying 64-long arrays plus two interpreted lambdas per
  * token. This expression computes the signature in one fused loop over
  * the document's own token array: NO explode, NO groupBy shuffle — the
  * 100 TB signature pass is a pure map over the corpus scan.
  *
  * Bit-parity with the round-1 form (pinned in SimHashSpec): token hash
  * is Spark's `xxhash64(w)` (XXH64.hashUTF8String, seed 42); bit b of
  * the signature is 1 iff the count of tokens with hash-bit b set
  * exceeds the count with it clear — exactly the old
  * `sum(shiftright(h, b) % 2 != 0 ? 1 : -1) > 0`. An EMPTY token array
  * is NULL — the round-1 explode produced no rows for a token-less doc,
  * so it had no signature at all; a 0L sentinel would instead make every
  * empty doc a mutual hamming-0 near-dup and flood the LSH buckets.
  *
  * Pairing at query time: `bit_count(a ^ b)` gives the Hamming distance
  * (replaces the old zip_with/filter over 0/1 arrays, same values).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def nullable: Boolean = true // empty token array → NULL

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      // null token: seed passes through, matching SQL xxhash64 semantics
      val h = if (arr.isNullAt(i)) 42L else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) != 0L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val b = ctx.freshName("b")
      val sig = ctx.freshName("sig")
      val xxh = classOf[XXH64].getName
      s"""
         |int $n = $x.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $counts = new int[64];
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h = $x.isNullAt($i) ? 42L : $xxh.hashUTF8String($x.getUTF8String($i), 42L);
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >> $b) & 1L) != 0L) $counts[$b]++; else $counts[$b]--;
         |    }
         |  }
         |  long $sig = 0L;
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ($counts[$b] > 0) $sig |= (1L << $b);
         |  }
         |  ${ev.value} = $sig;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** SQL builder with an arity check (shared with GraftExtensions). */
  val builder: Seq[Expression] => Expression = {
    case Seq(arr) => SimHash64(arr)
    case other => throw new IllegalArgumentException(
      s"simhash64 expects exactly 1 argument (array<string>), got ${other.length}")
  }

  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerExpressionOnce(spark, "simhash64", classOf[SimHash64], builder)
}
