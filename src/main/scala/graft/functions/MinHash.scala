package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Native MinHash signature: `minhash_sig(shingles, numPerms)` over an
  * `array<string>` shingle set — or an `array<long>` of pre-hashed
  * shingles — returns the `array<long>` of per-permutation minimum hashes.
  *
  * Why a custom Expression (SURVEY §7.5 promotion rule): the composable
  * formulation
  * `transform(sequence(0, n-1), p -> array_min(transform(shs, t -> xxhash64(p, t))))`
  * interprets two nested lambdas and allocates an intermediate hash array
  * per permutation — numPerms × |shingles| boxed closure calls per
  * document. At 100 TB the signature pass IS the MinHash+LSH dedup cost
  * (everything after it shuffles only (doc, band, hash) rows). This
  * expression computes the whole signature in one fused primitive loop
  * inside whole-stage codegen.
  *
  * The `array<long>` form is the scale path: shingles are hashed to 8-byte
  * keys map-side (`collect_set(xxhash64(s))`) BEFORE the per-document
  * shuffle, so the signature groupBy never carries shingle text — its
  * shuffle width drops ~5× versus collecting strings, and set-dedup
  * happens on longs.
  *
  * Bit-parity: permutation p's hash of element t equals Spark's
  * `xxhash64(p, t)` exactly — seed 42, the int arg hashed first
  * (XXH64.hashInt), the resulting value seeding the element hash
  * (hashUTF8String for strings, hashLong for longs) — pinned against the
  * lambda formulation in MinHashSpec for both element types.
  *
  * Empty input arrays yield Long.MaxValue per slot (the SQL form's
  * array_min(empty) is NULL); callers feed shingle sets built by
  * explode+collect_set, which never produces an empty set.
  */
case class MinHashSignature(child: Expression, numPerms: Int)
    extends UnaryExpression {

  // invariant for the expression's lifetime — hoisted out of the per-row path
  private lazy val stringElems: Boolean = child.dataType match {
    case ArrayType(StringType, _) => true
    case _                        => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) =>
      if (numPerms > 0) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires a POSITIVE permutation count, got $numPerms")
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires (array<string|long>, positive literal int), got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val strs = stringElems
    val out = new Array[Long](numPerms)
    var p = 0
    while (p < numPerms) {
      val seeded = XXH64.hashInt(p, 42L)
      var mn = Long.MaxValue
      var i = 0
      while (i < n) {
        // null element: the seed passes through unchanged, exactly SQL
        // xxhash64's null semantics (HashExpression skips null children)
        val h =
          if (arr.isNullAt(i)) seeded
          else if (strs) XXH64.hashUTF8String(arr.getUTF8String(i), seeded)
          else XXH64.hashLong(arr.getLong(i), seeded)
        if (h < mn) mn = h
        i += 1
      }
      out(p) = mn
      p += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val p = ctx.freshName("p")
      val sd = ctx.freshName("sd")
      val mn = ctx.freshName("mn")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val xxh = classOf[XXH64].getName
      val elemHash =
        if (stringElems) s"$xxh.hashUTF8String($x.getUTF8String($i), $sd)"
        else s"$xxh.hashLong($x.getLong($i), $sd)"
      s"""
         |int $n = $x.numElements();
         |long[] $out = new long[$numPerms];
         |for (int $p = 0; $p < $numPerms; $p++) {
         |  long $sd = $xxh.hashInt($p, 42L);
         |  long $mn = Long.MAX_VALUE;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h = $x.isNullAt($i) ? $sd : $elemHash;
         |    if ($h < $mn) $mn = $h;
         |  }
         |  $out[$p] = $mn;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  /** SQL builder (shared with GraftExtensions); numPerms must be a
    * literal int. */
  val builder: Seq[Expression] => Expression = {
    case Seq(arr, Literal(np: Int, IntegerType)) => MinHashSignature(arr, np)
    case other => throw new IllegalArgumentException(
      s"minhash_sig expects (array<string|long>, literal int), got ${other.length} argument(s)")
  }

  /** Register `minhash_sig(arr, numPerms)`; numPerms must be a literal. */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerExpressionOnce(spark, "minhash_sig", classOf[MinHashSignature], builder)
}
