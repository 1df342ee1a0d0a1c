package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: the op it belongs to, its layer, its bounds
  * (nanoseconds since the run started) and the index of the enclosing span
  * (-1 for an op's root span). */
final case class Span(op: String, layer: String, start: Long, end: Long, parent: Int)

/** Counters of one Spark job group: what the listener saw while the group
  * was set. Every op runs under its own groups, so these are per op. */
final class ExecAcc {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputB, shufReadB, shufWriteB, spillB, outputB = 0L
  var peakMemB = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var exchanges, broadcastJoins, sortMergeJoins = 0L
  def add(o: ExecAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputB += o.inputB; shufReadB += o.shufReadB; shufWriteB += o.shufWriteB
    spillB += o.spillB; outputB += o.outputB; peakMemB = math.max(peakMemB, o.peakMemB)
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    exchanges += o.exchanges; broadcastJoins += o.broadcastJoins; sortMergeJoins += o.sortMergeJoins
  }
}

/** In-memory tracer. Outside [[tracing]] with `active = true` on an
  * attached tracer, `span` only runs its body, so untraced and traced ops
  * execute the same code. Inside it, it records spans around the
  * benchmark's calls into each layer and tags Spark jobs with the op's job
  * group (`<op>/<layer>`); once [[attach]]ed, a SparkListener and a
  * QueryExecutionListener collect stage, task and planning counters per
  * group (jobs of untraced ops land in group `setup`). */
final class Tracer {
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var spark: SparkSession = _
  @volatile private var on = false
  def enabled: Boolean = on

  /** Run `body` with span recording and job-group tagging on (`active`,
    * once attached) or off. */
  def tracing[T](active: Boolean)(body: => T): T = {
    on = active && spark != null
    try body
    finally on = false
  }

  private val groups = new java.util.concurrent.ConcurrentHashMap[String, ExecAcc]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val execGroup = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  @volatile private var fallbackGroup = "setup"

  private def acc(g: String): ExecAcc = groups.computeIfAbsent(g, _ => new ExecAcc)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(fallbackGroup)
      val a = acc(g)
      a.synchronized { a.jobs += 1 }
      e.stageIds.foreach(s => stageGroup.put(s, g))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execGroup.putIfAbsent(id.toLong, g))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val a = acc(stageGroup.getOrDefault(e.stageInfo.stageId, fallbackGroup))
      a.synchronized { a.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val a = acc(stageGroup.getOrDefault(e.stageId, fallbackGroup))
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputB += m.inputMetrics.bytesRead
        a.shufReadB += m.shuffleReadMetrics.totalBytesRead
        a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputB += m.outputMetrics.bytesWritten
        a.peakMemB = math.max(a.peakMemB, m.peakExecutionMemory)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val a = acc(Option(execGroup.get(qe.id)).getOrElse(fallbackGroup))
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val shape = Tracer.shape(qe.executedPlan)
      a.synchronized {
        a.analysisMs += ms("analysis")
        a.optimizationMs += ms("optimization")
        a.planningMs += ms("planning")
        a.exchanges += shape._1
        a.broadcastJoins += shape._2
        a.sortMergeJoins += shape._3
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Attach the listeners to this session. They live in the benchmark
    * only; ops before this call run untraced. */
  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(jobListener)
    s.listenerManager.register(planListener)
  }

  def now: Long = System.nanoTime() - t0

  /** Run `body` as a span of `layer` in op `op`, with Spark jobs it starts
    * tagged `<op>/<layer>`. */
  def span[T](op: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(op, layer, now, -1L, parent)
      stack = idx :: stack
      val sc = spark.sparkContext
      val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      val g = s"$op/$layer"
      sc.setJobGroup(g, layer, interruptOnCancel = false)
      fallbackGroup = g
      try body
      finally {
        prevGroup match {
          case Some(p) => sc.setJobGroup(p, p, interruptOnCancel = false); fallbackGroup = p
          case None    => sc.clearJobGroup(); fallbackGroup = "setup"
        }
        stack = stack.tail
        spans(idx) = spans(idx).copy(end = now)
      }
    }

  /** Wait for queued listener events, then return the counters of every
    * group whose name starts with `op/`, keyed by layer. */
  def opCounters(op: String): Map[String, ExecAcc] =
    if (spark == null) Map.empty
    else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      groups.asScala.collect { case (g, a) if g.startsWith(op + "/") => g.stripPrefix(op + "/") -> a }.toMap
    }

  /** Per-layer self time in seconds: a span's duration minus the part of
    * it its child spans cover, summed per layer over the given ops. */
  def selfSeconds(ops: Set[String]): Map[String, Double] = {
    val child = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0 && s.end >= 0) child(s.parent) += s.end - s.start)
    spans.zipWithIndex.collect {
      case (s, i) if ops(s.op) && s.end >= 0 => s.layer -> (s.end - s.start - child(i)) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def spansJson: String = spans.map { s =>
    s"""{"op":"${s.op}","layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** (shuffle exchanges, broadcast joins, sort-merge joins) in the plan as
    * executed, looking through AQE wrappers, query stages and reused
    * exchanges. */
  def shape(plan: SparkPlan): (Long, Long, Long) = {
    var ex, bj, smj = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => ex += 1
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => bj += 1
        case _: SortMergeJoinExec => smj += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec        => walk(s.plan)
        case r: ReusedExchangeExec    => walk(r.child)
        case other                    => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, bj, smj)
  }
}
