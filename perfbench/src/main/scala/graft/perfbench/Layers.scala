package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.perfbench.Main.Ctx
import graft.tf.{PgDialect, Terraform}

/** Per-layer metrics of a traced run: the listener counters and spans of
  * the traced ops, averaged per op, plus probes of single layers that run
  * after the timed loop (layer names follow the program's modules). */
object Layers {

  def collect(c: Ctx, w: Main.Workload, ops: Seq[OpRec]): Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    val n = math.max(1, ops.size).toDouble
    val perOp = ops.map(o => o -> c.tracer.opCounters(o.id))
    val total = new ExecAcc
    perOp.foreach(_._2.values.foreach(total.add))
    val build = new ExecAcc
    perOp.foreach(_._2.get("build").foreach(build.add))
    val mb = 1e6

    // -- exec: Spark jobs, stages and tasks, per op
    out("exec.jobs") = total.jobs / n
    out("exec.stages") = total.stages / n
    out("exec.tasks") = total.tasks / n
    out("exec.task_run_s") = total.runMs / 1e3 / n
    out("exec.task_cpu_s") = total.cpuNs / 1e9 / n
    out("exec.gc_s") = total.gcMs / 1e3 / n
    out("exec.core_utilization") = total.runMs / 1e3 / (ops.map(_.ms).sum / 1e3 * c.cpus)
    out("exec.input_mb") = total.inputB / mb / n
    out("exec.shuffle_read_mb") = total.shufReadB / mb / n
    out("exec.shuffle_write_mb") = total.shufWriteB / mb / n
    out("exec.spill_mb") = total.spillB / mb / n
    out("exec.peak_exec_mem_mb") = total.peakMemB / mb
    out("exec.output_mb") = total.outputB / mb / n
    // -- sql.plan: QueryPlanningTracker phases, per op
    out("sql.plan.analysis_ms") = total.analysisMs / n
    out("sql.plan.optimization_ms") = total.optimizationMs / n
    out("sql.plan.planning_ms") = total.planningMs / n
    // -- plan.shape: executed (AQE final) plans, per op
    out("plan.exchanges") = total.exchanges / n
    out("plan.broadcast_joins") = total.broadcastJoins / n
    out("plan.sort_merge_joins") = total.sortMergeJoins / n
    // -- queries.build: DataFrame construction, with its eager jobs
    val ids = ops.map(_.id).toSet
    val buildS = c.tracer.spans.filter(s => ids(s.op) && s.layer == "build" && s.end >= 0)
      .groupMapReduce(_.op)(s => (s.end - s.start) / 1e9)(_ + _)
    out("queries.build_s") = median(ops.map(o => buildS.getOrElse(o.id, 0.0)))
    out("queries.eager_jobs") = build.jobs / n

    c.tracer.selfSeconds(ids).foreach { case (layer, s) => c.detail(s"self_s.$layer") = s / n }
    ops.groupBy(_.name).filter(_ => ops.head.cls == "query").foreach { case (q, os) =>
      c.detail(s"q.$q.s") = median(os.map(_.ms / 1e3))
    }
    c.detail("traced_ops") = ops.size

    out ++= tfProbes(c, w.probeCorpus(c))
    out ++= functionProbes(c)
    out.toMap
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** tf.* layers over a corpus: discovery (`Terraform.globOnce`),
    * single-threaded parse (`Builders.rowsForFile`) per file kind,
    * register + cache fill, the dialect rewrite, and DSv2 point lookups. */
  def tfProbes(c: Ctx, corpus: Corpus): Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    val p = corpus.paths
    val globs = Terraform.resolveGlobs(p.configurationFilePaths ++ p.planFilePaths ++ p.stateFilePaths)
    val conf = c.spark.sparkContext.hadoopConfiguration
    val disc = (1 to 5).map(_ => time(Terraform.globOnce(conf, globs)))
    out("tf.discovery.s") = median(disc.map(_._2))
    out("tf.discovery.files") = disc.head._1.size
    // a recursive `**` glob takes the other listing path (one recursive
    // listing filtered by pattern); timed over one top-level directory
    val rec = (1 to 3).map(_ => time(Terraform.globOnce(conf, Seq(s"${corpus.root}/team_00/**/*.tf"))))
    out("tf.discovery.recursive_ms_per_file") = median(rec.map(_._2)) * 1e3 / math.max(1, rec.head._1.size)

    Main.parseCheck(c, corpus) // warm: the parser may not have run in this JVM yet
    val (perKind, rows) = Main.parseCheck(c, corpus)
    def rate(kind: String): Double = perKind.get(kind).map { case (b, ns) => b / 1e6 / (ns / 1e9) }.getOrElse(0.0)
    out("tf.parse.hcl_mb_per_s") = rate("hcl")
    out("tf.parse.json_config_mb_per_s") = rate("tfjson")
    out("tf.parse.plan_mb_per_s") = rate("plan")
    out("tf.parse.state_mb_per_s") = rate("state")
    out("tf.parse.rows") = rows.toDouble

    c.spark.catalog.clearCache()
    val (_, fill) = time(Terraform.register(c.spark, p).write.format("noop").mode("overwrite").save())
    val cached = c.spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    out("tf.register.cache_fill_s") = fill
    out("tf.register.cached_partitions") = cached.map(_.numCachedPartitions).sum
    out("tf.register.cached_mb") = cached.map(i => i.memSize + i.diskSize).sum / 1e6

    val texts = DocQueries.texts
    val reps = 200
    val (_, rw) = time((1 to reps).foreach(_ => texts.foreach(PgDialect.rewrite)))
    out("tf.dialect.rewrite_us") = rw * 1e6 / (reps * texts.size)

    // sources: files a `path = '…'` lookup reads, and bytes read per byte
    // of the matching file
    val valid = corpus.specs.filterNot(_.malformed).toVector
    val rnd = new Random(17)
    val sizes = corpus.specs.map(f => corpus.abs(f) -> f.bytes).toMap
    val lookups = (1 to 5).map { _ =>
      val f = valid(rnd.nextInt(valid.size))
      val df = c.spark.read.format("terraform").option("table", "terraform_resource")
        .option("configurationFilePaths", p.configurationFilePaths.mkString(","))
        .option("planFilePaths", p.planFilePaths.mkString(","))
        .option("stateFilePaths", p.stateFilePaths.mkString(","))
        .load().where(col("path") === corpus.abs(f))
      df.write.format("noop").mode("overwrite").save()
      val read = scannedFiles(df.queryExecution.executedPlan)
      (read.size.toDouble, read.map(r => sizes.getOrElse(r, 0L)).sum.toDouble / f.bytes)
    }
    out("sources.point.files_read") = lookups.map(_._1).sum / lookups.size
    out("sources.point.read_amplification") = lookups.map(_._2).sum / lookups.size
    out.toMap
  }

  /** Paths in the input partitions of every DSv2 scan in the plan. The
    * connector's partition is a case class whose first field lists its
    * (path, kind) files. */
  private def scannedFiles(plan: SparkPlan): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec        => walk(s.plan)
      case b: BatchScanExec =>
        b.inputPartitions.foreach {
          case pr: Product if pr.productArity > 0 =>
            pr.productElement(0) match {
              case files: Seq[_] => files.foreach {
                case (path: String, _) => out += graft.tf.Terraform.stripScheme(path)
                case _ =>
              }
              case _ =>
            }
          case _ =>
        }
      case other => other.children.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  /** functions.*: rows per second of each graft expression registered by
    * `GraftExtensions.registerAll`, over cached generated rows, forced
    * through the `noop` sink. */
  def functionProbes(c: Ctx): Map[String, Double] = {
    val n = 100000L
    val in = c.spark.range(n).selectExpr("id",
      "transform(sequence(1, 64), i -> cast(sin(id * i) AS float)) AS a",
      "transform(sequence(1, 64), i -> cast(cos(id + i) AS float)) AS b",
      "transform(sequence(1, 24), i -> concat('w', cast((id * 31 + i * 17) % 5000 AS string))) AS ws",
      "cast(id AS string) AS s").cache()
    in.write.format("noop").mode("overwrite").save()
    def rate(e: String): Double = {
      val runs = (1 to 3).map(_ => time(in.selectExpr(e).write.format("noop").mode("overwrite").save())._2)
      n / median(runs)
    }
    val out = Map(
      "functions.cosine_sim.rows_per_s" -> rate("cosine_sim(a, b)"),
      "functions.minhash_sig.rows_per_s" -> rate("minhash_sig(ws, 32)"),
      "functions.simhash64.rows_per_s" -> rate("simhash64(ws)"),
      "functions.md5long60.rows_per_s" -> rate("md5long60(s)"))
    in.unpersist()
    out
  }
}

/** Full-result guard: the timed action of `driver_batch` must execute the
  * work that `count()` lets Catalyst prune. For one query it checks that
  * the plan the `noop` write executes keeps that work, and records whether
  * `count()` would have dropped it. */
object Guard {
  def hasTokenizer(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(_.exists(_.getClass.getSimpleName.contains("Tokenize"))))
  def hasWindow(p: LogicalPlan): Boolean = p.exists(_.isInstanceOf[Window])

  def check(c: Ctx, df: DataFrame, what: String, has: LogicalPlan => Boolean): Unit = {
    var written: Option[LogicalPlan] = None
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = written = Some(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    c.spark.listenerManager.register(l)
    try {
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.PerfbenchBus.drain(c.spark.sparkContext)
    } finally c.spark.listenerManager.unregister(l)
    if (!written.exists(has)) c.fail(s"full-result guard: the timed noop write drops the $what work")
    val countKeeps = has(df.groupBy().count().queryExecution.optimizedPlan)
    c.detail(s"guard.$what.count_prunes") = if (countKeeps) 0 else 1
  }
}
