package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.util.sketch.CountMinSketch

/** `cms_estimate(sketch, xxhash64_value)`: point-frequency estimate from
  * a serialized CountMinSketch (the output of Spark's built-in
  * `count_min_sketch` aggregate, which IS publicly registered — unlike
  * the Bloom pair — but ships with no SQL-reachable way to QUERY the
  * sketch; estimation exists only on the Java sketch object). This
  * expression closes that gap so heavy-hitter queries can stay one
  * declarative plan: aggregate → broadcast the one-row sketch → estimate
  * per candidate.
  *
  * The deserialized sketch is cached per expression instance keyed on a
  * cheap content fingerprint (length + first/last 8 bytes) with a full
  * `Arrays.equals` confirm on fingerprint hit. Reference equality alone
  * is NOT enough: BinaryType values read out of UnsafeRow-backed rows
  * (e.g. the broadcast join's build row) are fresh copies on every
  * `getBinary`, so an `eq` check would miss per row and deserialize the
  * sketch per row. The cache is a SINGLE slot, so the "ONE
  * deserialization per distinct sketch per task" bound assumes rows
  * carrying the same sketch arrive contiguously — trivially true for
  * the intended broadcast-one-row-sketch shape (every row carries the
  * same sketch), and for any plan partitioned by sketch. A plan
  * interleaving k distinct sketches row-by-row degrades to per-row
  * readFrom; if such plans ever appear, replace the slot with a small
  * bounded map keyed on the fingerprint. Each hit costs an O(len)
  * memcmp per row — cheap next to per-row readFrom.
  * CodegenFallback: the estimate path is candidate-sized
  * (vocabulary-bounded), never the corpus-sized side.
  *
  * CMS guarantees estimate >= true count (never under), and
  * overestimates by at most eps·N with the aggregate's configured
  * confidence — the spec pins both sides against the exact counts.
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cms_estimate requires (binary, bigint), got (${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = LongType

  @transient private var bytesRef: Array[Byte] = _
  @transient private var fpLen: Int = -1
  @transient private var fpHead: Long = _
  @transient private var fpTail: Long = _
  @transient private var sketch: CountMinSketch = _

  private def longAt(b: Array[Byte], off: Int): Long = {
    var x = 0L; var i = 0
    while (i < 8 && off + i < b.length) { x = (x << 8) | (b(off + i) & 0xffL); i += 1 }
    x
  }

  override protected def nullSafeEval(bin: Any, v: Any): Any = {
    val bytes = bin.asInstanceOf[Array[Byte]]
    // Fast path: same reference (non-Unsafe rows). Slow-but-cheap path:
    // content fingerprint, then full equals before trusting the cache —
    // UnsafeRow.getBinary returns a fresh copy per row, defeating `eq`.
    if (!(bytes eq bytesRef)) {
      val head = longAt(bytes, 0)
      val tail = longAt(bytes, math.max(0, bytes.length - 8))
      val fpHit = bytes.length == fpLen && head == fpHead && tail == fpTail &&
        bytesRef != null && java.util.Arrays.equals(bytes, bytesRef)
      if (!fpHit) {
        sketch = CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
        fpLen = bytes.length; fpHead = head; fpTail = tail
      }
      bytesRef = bytes
    }
    sketch.estimateCount(v.asInstanceOf[Long])
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cms_estimate"
}

object Cms {

  val estimateBuilder: FunctionBuilder = {
    case Seq(sk, v) => CmsEstimate(sk, v)
    case other => throw new IllegalArgumentException(
      s"cms_estimate expects (sketch, value), got ${other.length} args")
  }

  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerExpressionOnce(spark, "cms_estimate", classOf[CmsEstimate], estimateBuilder)
}
