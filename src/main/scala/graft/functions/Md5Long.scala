package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `md5long60(s)`: the value of the first 15 hex digits of md5(s) as a
  * LONG — bit-identical to
  * `CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)` (the
  * engine-portable hash the md5-family dedup pipelines share with their
  * DuckDB oracles), but computed straight from the digest bytes: no
  * 32-char hex string allocation, no substring, no base-16 text parse.
  * The md5 pipelines hash every shingle of every document, so this is
  * their hottest scalar (x_dedup_minhash_md5 / x_dedup_clusters_full /
  * x_dedup_simhash_md5). Md5Long60Spec pins equality with the conv form.
  */
case class Md5Long60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5long60 requires string, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5long60"

  override def nullSafeEval(s: Any): Any =
    Md5Long60.hash(s.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.Md5Long60$$.MODULE$$.hash($x);")

  override protected def withNewChildInternal(newChild: Expression): Md5Long60 =
    copy(child = newChild)
}

object Md5Long60 {

  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5(s): big-endian digest bytes 0..7 as an unsigned
    * value, dropping the low nibble of byte 7 (= hex digit 16). */
  def hash(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    val be =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    be >>> 4
  }

  /** SQL builder with an arity check (shared with GraftExtensions). */
  val builder: Seq[Expression] => Expression = {
    case Seq(s) => Md5Long60(s)
    case other => throw new IllegalArgumentException(
      s"md5long60 expects exactly 1 string argument, got ${other.length}")
  }

  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerExpressionOnce(spark, "md5long60", classOf[Md5Long60], builder)
}
