package graft.functions

import graft.{GraftExtensions, SparkSpecBase}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Query builders call the graft `register` helpers on every build; a
  * function the session already has is kept, not replaced (replacing one
  * logs a warning per build). */
class RegisterOnceSpec extends SparkSpecBase {

  test("a second register keeps the registered builder and info of every function") {
    val registry = spark.sessionState.functionRegistry
    def registered(names: Seq[String]) = names.map { n =>
      val id = FunctionIdentifier(n)
      (registry.lookupFunctionBuilder(id).get, registry.lookupFunction(id).get)
    }
    val registers: Seq[(Seq[String], () => Unit)] = Seq(
      Seq("cosine_sim", "float_dot", "int_dot", "minhash_sig", "simhash64", "md5long60",
        "minhash_agg_32", "bloom_agg", "bloom_contains", "cms_estimate", "json_get") ->
        (() => GraftExtensions.registerAll(spark)),
      Seq("cosine_sim", "float_dot", "int_dot") -> (() => CosineSimilarity.register(spark)),
      Seq("minhash_agg_32") -> (() => { MinHashAgg.register(spark, 32); () }),
      Seq("topk_agg_5") -> (() => { TopKAgg.register(spark, 5); () }),
      Seq("mink_agg_5") -> (() => { MinKAgg.register(spark, 5); () }))
    registers.foreach { case (names, register) =>
      register()
      val before = registered(names)
      register()
      names.zip(before).zip(registered(names)).foreach {
        case ((n, (builder, info)), (builder2, info2)) =>
          assert(builder2 eq builder, s"$n: builder replaced")
          assert(info2 eq info, s"$n: info replaced")
      }
    }
  }
}
