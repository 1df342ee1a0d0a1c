package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: its class, a name (the query for driver_batch),
  * its op id (span and job-group prefix), the round (call of
  * `Workload.op`) it ran in, its cost, and whether its correctness check
  * passed. */
final case class OpRec(cls: String, name: String, id: String, round: Int, cost: Cost, ok: Boolean,
    traced: Boolean) {
  def ms: Double = cost.ms
}

/** What one timed call cost: wall milliseconds; processor milliseconds of
  * the program's threads (the caller's and every thread Spark runs, but not
  * the JVM's JIT compiler and GC threads); processor milliseconds of the
  * whole JVM. */
final case class Cost(ms: Double, cpuMs: Double, jvmCpuMs: Double) {
  def json: Json.Obj = Json.obj("ms" -> ms, "cpu_ms" -> cpuMs, "jvm_cpu_ms" -> jvmCpuMs)
}

/** Benchmark JVM: set-up, the closed-loop timed ops of one workload, the
  * untimed correctness checks and, in a traced run, the per-layer metrics.
  * Raw results go to `--out` as JSON; `perfbench/run.py` turns them into
  * the benchmark's metrics.
  *
  * Usage: graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR --out FILE [--tables DIR] [--trace-out FILE]
  */
object Main {

  final class Ctx(val opts: Map[String, String]) {
    val workload: String = opts("workload")
    val seed: Long = opts("seed").toLong
    val seconds: Double = opts("seconds").toDouble
    val traced: Boolean = opts("trace") == "1"
    /** Whether the `i`-th op of the timed loop is traced. In a traced run
      * ops go untraced, traced, traced, untraced, and so on, so both
      * groups see the same JIT warm-up and host load; in an untraced run
      * none is traced. */
    def traceOp(i: Int): Boolean = traced && (i % 4 == 1 || i % 4 == 2)
    val work: Path = Paths.get(opts("work")).toAbsolutePath
    val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val tracer = new Tracer
    val checks: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()
    val detail: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap[String, Double]()
    var spark: SparkSession = _
    def fail(msg: String): Unit = { checks += msg; System.err.println(s"[perfbench] check failed: $msg") }
  }

  /** A workload: untimed preparation, the set-up that `setup_s` times, an
    * untimed warm-up, one timed op, and the layer probes of a traced run. */
  trait Workload {
    def prepare(c: Ctx): Unit
    def setup(c: Ctx): Unit
    def warmup(c: Ctx): Unit
    def op(c: Ctx, k: Int): Seq[OpRec]
    def finish(c: Ctx): Unit = ()
    def probeCorpus(c: Ctx): Corpus
    /** Set-ups per run; `setup_s` is their median. The first pays the cold
      * JVM, so a cheap set-up needs more of them for a steady median. */
    def setupRepeats: Int = 3
    /** Rounds (calls of `op`) a traced run makes at least, so that the ops
      * of each latency group come in traced and untraced pairs. */
    def tracedRounds: Int = 4
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val c = new Ctx(opts)
    val w: Workload = c.workload match {
      case "tf_cold_ingest" => new TfIngest
      case "driver_batch"   => new DriverBatch(opts("tables"))
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val started = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] $name done at ${(System.nanoTime() - started) / 1e9}%.1f s")
    w.prepare(c)
    phase("prepare")

    // set-up, repeated in this JVM; setup_s is the median
    val setups = (1 to w.setupRepeats).map { _ =>
      if (c.spark != null) {
        c.spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val (_, cost) = timed {
        c.spark = graft.Engine.session(s"local[${c.cpus}]")
        graft.GraftExtensions.registerAll(c.spark)
        w.setup(c)
      }
      log("set-up", cost)
      cost
    }
    phase("set-up")
    w.warmup(c)
    phase("warm-up")

    // closed loop, one client: the next op starts when the previous ends.
    // The window counts timed op time only, so the untimed checks between
    // ops do not change how many ops a run makes.
    // A traced run attaches the listeners before the loop and switches span
    // recording and job-group tagging per op (see `Ctx.traceOp`); the
    // latency difference of the two groups is the tracing overhead.
    if (c.traced) c.tracer.attach(c.spark)
    val ops = mutable.ArrayBuffer[OpRec]()
    var busy = 0.0
    var k = 0
    while (busy < c.seconds || (c.traced && k < w.tracedRounds)) {
      val round = w.op(c, k)
      round.foreach(o => log(s"op ${o.id}", o.cost))
      ops ++= round
      busy += round.map(_.ms).sum / 1e3
      k += 1
    }
    val heapMb = liveHeapMb()
    phase(s"timed loop ($k rounds)")
    w.finish(c)
    phase("result checks")

    val layers: Map[String, Double] =
      if (c.traced) Layers.collect(c, w, ops.filter(_.traced).toSeq) else Map.empty
    val conf = c.spark.conf
    val config = Seq("spark.master" -> c.spark.sparkContext.master,
      "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.warehouse.dir" -> conf.get("spark.sql.warehouse.dir"),
      "spark.local.dir" -> c.spark.sparkContext.getConf.get("spark.local.dir", ""),
      "SPARK_GRAFT_CPUS" -> c.cpus.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)
    val json = Json.obj(
      "workload" -> c.workload, "seed" -> c.seed, "setups" -> setups.map(_.json),
      "live_heap_mb" -> heapMb, "config" -> Json.obj(config: _*),
      "checks" -> c.checks.toSeq,
      "ops" -> ops.toSeq.map(o => Json.obj("cls" -> o.cls, "name" -> o.name, "round" -> o.round, "cost" -> o.cost.json,
        "ok" -> o.ok, "traced" -> o.traced)),
      "layers" -> Json.obj(layers.toSeq: _*),
      "detail" -> Json.obj(c.detail.toSeq: _*))
    Files.write(Paths.get(opts("out")), Json.render(json).getBytes(UTF_8))
    opts.get("trace-out").filter(_ => c.traced).foreach { p =>
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.write(Paths.get(p), c.tracer.spansJson.getBytes(UTF_8))
    }
    c.spark.stop()
  }

  /** Heap the program still holds at this point: heap used after full
    * collections, in MB. Cached tables and other retained state count;
    * garbage and heap the collector merely reserved do not, so unlike the
    * resident set it does not depend on how far the collector grew the
    * heap in this run. */
  def liveHeapMb(): Double = {
    // Spark's ContextCleaner drops unreachable broadcasts and shuffles on
    // its own thread after a collection; give it time, then collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(250) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threadBean = ManagementFactory.getThreadMXBean

  /** Processor nanoseconds so far of every live Java thread, by thread id.
    * The JVM's JIT compiler and GC threads are not Java threads and so are
    * not counted. */
  private def threadCpu(): Map[Long, Long] =
    threadBean.getAllThreadIds.map(id => id -> threadBean.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** Run `body` as one timed call: (result, cost). The program's processor
    * time sums, over the threads alive at the end, what each ran during the
    * call (a thread started in the call counts from zero). */
  def timed[T](body: => T): (T, Cost) = {
    val threads0 = threadCpu()
    val jvm0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    val jvm1 = osBean.getProcessCpuTime
    val threads1 = threadCpu()
    val cpu = threads1.iterator.map { case (id, ns) => ns - threads0.getOrElse(id, 0L) }.sum
    (r, Cost((t1 - t0) / 1e6, cpu / 1e6, (jvm1 - jvm0) / 1e6))
  }

  def log(what: String, cost: Cost): Unit =
    System.err.println(f"[perfbench] $what: ${cost.ms}%.0f ms wall, ${cost.cpuMs}%.0f ms program cpu, " +
      f"${cost.jvmCpuMs}%.0f ms jvm cpu")

  /** Build a DataFrame and force its full result into the `noop` sink,
    * as spans `build` and `exec` of op `op`. */
  def noop(c: Ctx, op: String)(build: => DataFrame): Unit = {
    val df = c.tracer.span(op, "build")(build)
    c.tracer.span(op, "exec")(df.write.format("noop").mode("overwrite").save())
  }

  /** Single-threaded parse of every corpus file through
    * `Builders.rowsForFile`, compared with the manifest. Returns
    * (kind -> (bytes, nanoseconds), rows) for the parse-throughput metrics. */
  def parseCheck(c: Ctx, corpus: Corpus): (Map[String, (Long, Long)], Long) = {
    val perKind = mutable.Map[String, (Long, Long)]().withDefaultValue((0L, 0L))
    var rows = 0L
    var bad = 0
    corpus.specs.foreach { f =>
      val kind = f.kind match { case "plan" => "plan"; case "state" => "state"; case _ => "config" }
      val t0 = System.nanoTime()
      val got = graft.tf.Builders.rowsForFile(corpus.abs(f), kind, f.content)
      val dt = System.nanoTime() - t0
      val (b, n) = perKind(f.kind)
      perKind(f.kind) = (b + f.bytes, n + dt)
      rows += got.size
      val g = got.map(r => (r.table, r.name.orNull, r.tfType.orNull)).sortBy(_.toString)
      val e = f.rows.map(r => (r.table, r.name, if (r.table == "_error") null else r.tpe)).sortBy(_.toString)
      val gNorm = g.map { case (t, n, ty) => (t, n, if (t == "resource" || t == "data_source") ty else null) }
      val eNorm = e.map { case (t, n, ty) => (t, n, if (t == "resource" || t == "data_source") ty else null) }
      if (gNorm != eNorm) {
        bad += 1
        val err = got.find(_.table == "_error").flatMap(_.description).getOrElse("")
        if (bad <= 3) c.fail(s"manifest mismatch for ${f.rel}: parsed ${gNorm.take(4)} $err expected ${eNorm.take(4)}")
      }
    }
    if (bad > 3) c.fail(s"manifest mismatch in $bad files")
    (perKind.toMap, rows)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""
  def render(v: Any): String = v match {
    case null                    => "null"
    case Obj(fs)                 => fs.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String               => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double               => d.toString
    case n @ (_: Int | _: Long)  => n.toString
    case b: Boolean              => b.toString
    case xs: Iterable[_]         => xs.map(render).mkString("[", ",", "]")
    case other                   => str(other.toString)
  }
}
