package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark compiles each distinct generated class once per JVM: the codegen
  * cache holds more classes than one pass over a query surface needs, so
  * re-running the same queries compiles nothing. Under Spark's default
  * 100 entries a cycle of more distinct classes than that never hits. */
class CodegenCacheSpec extends SparkSpecBase {

  test("generated code compiles once: a second pass over 150 queries compiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Engine.CodegenCacheMaxEntries.toString)
    // each inlined literal makes a distinct generated class
    def pass(): Seq[Long] = (0 until 150).map { i =>
      spark.range(4).selectExpr(s"id * $i + $i AS v").collect().map(_.getLong(0)).sum
    }
    val first = pass()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(pass() == first)
    val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
    assert(recompiled == 0, s"the second pass recompiled $recompiled classes")
  }
}
