package graft

import org.apache.spark.sql.functions.{col, udf}

/** `Bench` times the full result of a query, not a `count()` that lets
  * Catalyst prune the projected columns. */
class BenchSpec extends SparkSpecBase {

  test("the timed action evaluates a projection that count() prunes") {
    val calls = spark.sparkContext.longAccumulator("bench-udf-calls")
    val bump = udf { (x: Long) => calls.add(1); x + 1 }
    val df = spark.range(10).select(bump(col("id")).as("y"))
    assert(df.count() == 10)
    assert(calls.value == 0, "count() evaluated the projection")
    Bench.fullResult(df)
    assert(calls.value == 10, s"the timed action evaluated ${calls.value} of 10 rows")
  }
}
