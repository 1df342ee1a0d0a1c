package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL bindings for Spark's Bloom-filter sketch expressions.
  *
  * Catalyst ships `BloomFilterAggregate` / `BloomFilterMightContain` for
  * its own runtime row-level semi-join filtering, but does NOT register
  * them in the public function registry — they are only reachable when
  * the optimizer injects them. The sketch-accelerated dedup pre-filter
  * (`Dedup.x_dedup_bloom_exact`) wants exactly these operators as
  * explicit plan nodes, so graft registers them under its own names:
  *
  *  - `bloom_agg(xxhash64_value, estimatedItems, numBits)` → binary
  *    sketch (a true partial aggregate: map-side filters OR-merge)
  *  - `bloom_contains(sketch, xxhash64_value)` → boolean, false only
  *    when the value is definitely absent (no false negatives)
  *
  * Same deployment story as every other graft native function:
  * GraftExtensions injects them per session; `register` is the
  * embedded/test path.
  */
object Bloom {

  val aggBuilder: FunctionBuilder = {
    case Seq(v, n, bits) => new BloomFilterAggregate(v, n, bits).toAggregateExpression()
    case other => throw new IllegalArgumentException(
      s"bloom_agg expects (value, estimatedItems, numBits), got ${other.length} args")
  }

  val containsBuilder: FunctionBuilder = {
    case Seq(bf: Expression, v: Expression) => BloomFilterMightContain(bf, v)
    case other => throw new IllegalArgumentException(
      s"bloom_contains expects (sketch, value), got ${other.length} args")
  }

  def register(spark: SparkSession): Unit = {
    graft.GraftExtensions.registerExpressionOnce(spark, "bloom_agg", classOf[BloomFilterAggregate], aggBuilder)
    graft.GraftExtensions.registerExpressionOnce(
      spark, "bloom_contains", classOf[BloomFilterMightContain], containsBuilder)
  }
}
