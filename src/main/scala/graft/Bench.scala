package graft

import org.apache.spark.sql.DataFrame

object Bench {
  /** The timed action: compute the whole result and drop it in the `noop`
    * sink. A `count()` would let Catalyst prune every projected column, so
    * the work of the result's expressions would go untimed. */
  private[graft] def fullResult(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // optional comma-separated query filter for focused runs (dev tooling;
    // the driver never sets it, so its runs cover everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    def selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None        => SparkEntry.queries
    }
    val spark = Engine.session(s"local[$cpus]")
    // Warmup pass: JIT + codegen + parquet footer caching dominate first
    // execution on a fresh JVM; report steady-state numbers. The compiled
    // generated classes stay warm into the timed passes only because
    // Engine.session sizes Spark's codegen cache to the whole query
    // surface (~2,700 classes); under the 100-entry default every query
    // would recompile in every pass.
    selected.foreach { case (_, fn) =>
      try { fullResult(fn(spark, sfDir)) } catch { case _: Throwable => () }
    }
    // Two timed passes, min per query: a single pass is hostage to GC
    // pauses and machine load landing on individual queries. A pass that
    // THREW records +∞, never its time-to-failure — a broken query must
    // not masquerade as a fast success in the round's benchmark artifact.
    def timedPass(): Map[String, Double] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fullResult(fn(spark, sfDir)); true }
        catch { case _: Throwable => false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity)
      }
    val (p1, p2) = (timedPass(), timedPass())
    // Variance guard: min-of-two still records a poisoned number when
    // concurrent machine load lands on BOTH passes of one query. When the
    // two timings disagree >2× (beyond sub-100ms jitter), take a third
    // pass and keep the overall min. (A one-pass failure also lands here
    // via its ∞ and gets the extra attempt.)
    val results = p1.map { case (k, v) =>
      val best = math.min(v, p2(k))
      val guarded =
        if (math.max(v, p2(k)) > 2 * best && best > 0.1) {
          val t0 = System.nanoTime()
          val ok = try { fullResult(selected(k)(spark, sfDir)); true }
          catch { case _: Throwable => false }
          if (ok) math.min(best, (System.nanoTime() - t0) / 1e9) else best
        } else best
      k -> guarded
    }
    // Pass-to-pass spread per query (max/min of the two timed passes):
    // the round-over-round reader's ambient-load signal. A high median
    // spread says the HOST was noisy and cross-round deltas of that size
    // carry no code-change information; n_over_2x counts queries whose
    // passes disagreed enough to trigger the third-pass guard.
    val spreads = p1.collect {
      case (k, a) if !a.isInfinity && !p2(k).isInfinity && math.min(a, p2(k)) > 0 =>
        math.max(a, p2(k)) / math.min(a, p2(k))
    }.toSeq.sorted
    val varianceJson =
      if (spreads.isEmpty) ""
      else s""","variance":{"median_spread":${spreads(spreads.size / 2)},""" +
        s""""max_spread":${spreads.last},"n_over_2x":${spreads.count(_ > 2.0)}}"""
    // failed queries (∞ in every pass) are reported by name, not by a
    // bogus timing; the total covers successes only
    val (failed, timed) = results.partition(_._2.isInfinity)
    def entries(fmt: Double => String) = timed.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val failedJson =
      if (failed.isEmpty) ""
      else failed.keys.toSeq.sorted.map("\"" + _ + "\"").mkString(",\"failed\":[", ",", "]")
    val total = if (timed.nonEmpty) timed.values.sum else 0.0
    // Round-over-round readers consumed this line via a bounded TAIL
    // capture that the 172-query full-precision JSON overflowed (the
    // per-query map alone is ~4.5 KB at ANY float precision — PERF has
    // been parse-blind since r15). Two-channel fix, measurement code
    // untouched: (1) the FULL-precision JSON (with the variance block)
    // is written to a sidecar file the reader can open whole; (2) stdout
    // keeps the same one-line schema at 4-decimal seconds, preceded by
    // the variance block on its own line, so the final line is as small
    // as the fixed query names allow.
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${entries(_.toString)}$failedJson$varianceJson,"sf":"$sfDir"}"""
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "bench_per_query.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(sidecar),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () } // reporting must never fail the bench
    if (varianceJson.nonEmpty) println("{" + varianceJson.drop(1) + "}")
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and
    // a comma-decimal locale would break the JSON line
    def fmt4(x: Double) = String.format(java.util.Locale.ROOT, "%.4f", Double.box(x))
    println(s"""{"metric":"total","value":${fmt4(total)},"unit":"sec","queries":${entries(fmt4)}$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
