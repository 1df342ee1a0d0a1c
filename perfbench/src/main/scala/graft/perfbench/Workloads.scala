package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.perfbench.Main.{Ctx, Workload, noop, timed}
import graft.tf.Terraform

/** The seven published tables plus the parse-failure view. */
object Views {
  val all: Seq[String] = Seq("terraform_resource", "terraform_data_source", "terraform_local",
    "terraform_module", "terraform_output", "terraform_provider", "terraform_variable",
    "terraform_diagnostics")
}

/** The reference's documented example queries (the docs/tables pages), kept
  * verbatim in the Postgres dialect they are published in; the dialect
  * probe of a traced run rewrites them. */
object DocQueries {
  val texts: Vector[String] = Vector(
    "select name, type, jsonb_pretty(arguments) as args from terraform_resource",
    "select name, type, address, attributes_std, path from terraform_resource",
    "select address, name, attributes_std ->> 'ami' as ami, path from terraform_resource where type = 'aws_instance'",
    "select address, name, path from terraform_resource\n" +
      "where type = 'aws_cloudtrail' and attributes_std -> 'kms_key_id' is null",
    "select address, name from terraform_resource\n" +
      "where type = 'aws_s3_bucket' and not (attributes_std -> 'force_destroy')::boolean",
    "select path, name, address,\n  (attributes_std ->> 'assume_role_policy')::jsonb -> 'Statement' as statement\n" +
      "from terraform_resource where type = 'aws_iam_role'",
    "with filters as (\nselect name, type, jsonb_array_elements(arguments -> 'filter') as filter, path\n" +
      "from terraform_data_source where type = 'aws_ami'\n)\n" +
      "select name, type, filter -> 'name' as fname, filter -> 'values' as fvalues, path\nfrom filters",
    "select name, value, path from terraform_local where name ilike 'owner'",
    "select name, description, path from terraform_output where sensitive",
    "select name from terraform_output where value::text like '%aws_s3_bucket.%.arn%'",
    "select name, split_part(module_source,'=',-1) as ref from terraform_module\n" +
      "where module_source like '%gitlab.com%'\n  and not split_part(module_source,'=',-1) ~ '^[0-9]'",
    "select name, alias, arguments ->> 'region' as region, path from terraform_provider where name = 'aws'",
    "select name, validation, type from terraform_variable where validation is not null",
    "select name, description, sensitive from terraform_variable where sensitive")
}

/** Monorepo-scale ingest: each op edits a few percent of the files, calls
  * `Terraform.refresh` and materializes every view. Discovery and parse do
  * most of the work. */
final class TfIngest extends Workload {
  val NFiles = 600
  var corpus: Corpus = _

  def prepare(c: Ctx): Unit = {
    corpus = new Corpus(c.work.resolve("corpus"), c.seed, NFiles)
    Main.parseCheck(c, corpus)
  }

  def setup(c: Ctx): Unit =
    Terraform.register(c.spark, corpus.paths).write.format("noop").mode("overwrite").save()

  def warmup(c: Ctx): Unit = (1 to 2).foreach(i => op(c, -i))

  def op(c: Ctx, k: Int): Seq[OpRec] = {
    val id = s"ingest$k"
    val traced = c.traceOp(k)
    val (rows, cost) = timed(c.tracer.tracing(traced)(c.tracer.span(id, "op") {
      c.tracer.span(id, "edit")(corpus.edit(k))
      val r = c.tracer.span(id, "refresh")(Terraform.refresh(c.spark))
      Views.all.foreach(v => noop(c, id)(c.spark.table(v)))
      r
    }))
    val got = rows.groupBy("table").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = corpus.tableCounts
    val ok = got == want
    if (!ok) c.fail(s"$id: table counts $got != manifest $want")
    if (k >= 0) c.detail("corpus_mb") = corpus.totalBytes / 1e6
    Seq(OpRec("ingest", id, id, k, cost, ok, traced))
  }

  def probeCorpus(c: Ctx): Corpus = corpus
}

/** The `SparkEntry` query batch: a pass runs the queries below once each, in
  * this order, forcing each full result into the `noop` sink. The order is
  * fixed because the JVM is still warming up during the first passes: a
  * seeded order would move each query along that curve from run to run.
  * Results are checked untimed: the warm-up pass writes every result for
  * the DuckDB oracle comparison in `run.py`. */
final class DriverBatch(tables: String) extends Workload {
  val Queries: Seq[String] = Seq(
    "b_agg_q1", "b_join_multiway", "b_window_lead_rank", "b_string_fns",
    "x_text_tokenize_ids",
    "x_dedup_minhash", "x_sim_ivf", "x_mm_phash_dups",
    "x_events_sessions", "x_prof_documents")
  private val broken = mutable.Set[String]()
  private var probe: Corpus = _

  def prepare(c: Ctx): Unit = ()
  def setup(c: Ctx): Unit = ()

  override def setupRepeats: Int = 11
  // query j of pass k is op 2j + k: two passes hold each query once
  // traced and once untraced, half of them traced first
  override def tracedRounds: Int = 2

  private def build(c: Ctx, q: String): DataFrame = graft.SparkEntry.queries(q)(c.spark, tables)

  def warmup(c: Ctx): Unit = {
    val out = c.work.resolve("results")
    Queries.foreach { q =>
      try {
        val (_, cost) = timed(build(c, q).write.mode("overwrite").parquet(out.resolve(q).toString))
        Main.log(s"warm-up $q", cost)
      } catch { case e: Exception => broken += q; c.fail(s"$q failed: ${e.getMessage}") }
    }
    Guard.check(c, build(c, "x_text_tokenize_ids"), "tokenize", Guard.hasTokenizer)
    Guard.check(c, build(c, "b_window_lead_rank"), "window", Guard.hasWindow)
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    Files.write(out.resolve("oracle_sql.json"),
      Json.render(Json.obj(oracles.toSeq: _*)).getBytes(UTF_8))
  }

  def op(c: Ctx, k: Int): Seq[OpRec] =
    Queries.zipWithIndex.map { case (q, j) =>
      val id = s"p${k}_$q"
      val traced = c.traceOp(2 * j + k)
      val (ok, cost) = timed {
        try { c.tracer.tracing(traced)(c.tracer.span(id, "op")(noop(c, id)(build(c, q)))); !broken(q) }
        catch { case e: Exception => c.fail(s"$id failed: ${e.getMessage}"); false }
      }
      OpRec("query", q, id, k, cost, ok, traced)
    }

  /** Queries without an oracle are written a second time, so `run.py` can
    * check their digest is stable across executions. */
  override def finish(c: Ctx): Unit = {
    val out = c.work.resolve("results2")
    Queries.filterNot(graft.SparkEntry.oracleSql.contains).filterNot(broken).foreach { q =>
      build(c, q).write.mode("overwrite").parquet(out.resolve(q).toString)
    }
  }

  def probeCorpus(c: Ctx): Corpus = {
    if (probe == null) probe = new Corpus(c.work.resolve("probe_corpus"), c.seed, 300)
    probe
  }
}
