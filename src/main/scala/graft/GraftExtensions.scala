package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{CosineSimilarity, FloatDot, IntDot, Md5Long60, MinHashSignature, SimHash64}

/** Cluster-facing packaging of the graft native functions:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * injects `cosine_sim`, `float_dot`, `int_dot`, `minhash_sig`, `simhash64` into
  * every session built from that config — the idiomatic deployment for a
  * library of Catalyst expressions (no driver-side register calls, works
  * from pure SQL, survives session cloning). The per-query `register`
  * helpers remain for embedded/test use.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // builders come from each companion — the injector and the per-session
  // register() path share one implementation (incl. arity checks) so the
  // two deployment modes can't drift
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      CosineSimilarity.builder))
    ext.injectFunction((FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "float_dot"),
      CosineSimilarity.dotBuilder))
    ext.injectFunction((FunctionIdentifier("int_dot"),
      new ExpressionInfo(classOf[IntDot].getName, "int_dot"),
      CosineSimilarity.intDotBuilder))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      MinHashSignature.builder))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      SimHash64.builder))
    ext.injectFunction((FunctionIdentifier("md5long60"),
      new ExpressionInfo(classOf[Md5Long60].getName, "md5long60"),
      Md5Long60.builder))
    ext.injectFunction((FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      graft.functions.Bloom.aggBuilder))
    ext.injectFunction((FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_contains"),
      graft.functions.Bloom.containsBuilder))
    ext.injectFunction((FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[graft.functions.CmsEstimate].getName, "cms_estimate"),
      graft.functions.Cms.estimateBuilder))
  }
}

object GraftExtensions {
  /** Embedded/test path: one call registering every graft function (the
    * UDAF needs a permutation count, fixed here at the pipeline's 32),
    * plus the Postgres/SQLite compat shims the documented reference
    * queries use (jsonb_pretty, json_get/json_get_str,
    * json_array_elements, json_extract, json_each_values,
    * sqlite_truthy) — UDF-backed, so they register per-session rather
    * than through the extension injector. */
  def registerAll(spark: SparkSession, minhashPerms: Int = 32): Unit = {
    CosineSimilarity.register(spark)
    MinHashSignature.register(spark)
    SimHash64.register(spark)
    Md5Long60.register(spark)
    graft.functions.MinHashAgg.register(spark, minhashPerms)
    graft.functions.Bloom.register(spark)
    graft.functions.Cms.register(spark)
    graft.tf.Terraform.registerFunctions(spark)
  }

  /** Register `f` as `name` unless the session already has a function of
    * that name, and return the name. Query builders and
    * `Terraform.refresh` register on every call, and replacing a
    * registered function logs a warning each time. */
  def registerOnce(spark: SparkSession, name: String)(
      f: => org.apache.spark.sql.expressions.UserDefinedFunction): String = {
    if (!spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)))
      spark.udf.register(name, f)
    name
  }

  /** [[registerOnce]] for a native expression: `name` resolves through
    * `builder`, and `cls` names the expression in DESCRIBE FUNCTION. */
  def registerExpressionOnce(spark: SparkSession, name: String, cls: Class[_],
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.registerFunction(FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
  }
}
