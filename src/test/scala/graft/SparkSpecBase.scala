package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, scalatest runs
  * suites sequentially in one forked JVM). It is the first session the
  * test JVM builds, so it also fixes the JVM-wide codegen cache size, to
  * the engine's value. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.codegen.cache.maxEntries", Engine.CodegenCacheMaxEntries.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
