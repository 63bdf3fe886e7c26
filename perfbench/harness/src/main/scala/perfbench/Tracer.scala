package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run instrumentation, from Spark's public listener surfaces only.
  *
  * Spans form a tree: op -> build / plan / execute (timed on the client
  * thread) -> job -> stage (from the SparkListener). A job's parent is the
  * client span named by the [[SpanKey]] local property when it started, so
  * the jobs the eager operators launch inside the gate function land under
  * `build`. Query executions reported to the QueryExecutionListener are
  * attributed to the op whose window holds their first planning phase.
  * Everything stays in memory until [[writeSpans]] at the end of the run. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val windows = mutable.ArrayBuffer.empty[OpWindow]
  private val agg = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
  private val jobOp = mutable.Map.empty[Int, (String, String, Long)] // op, parent, start
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTimes = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val pendingExecs = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]
  @volatile private var lastEventMs = System.currentTimeMillis()
  @volatile private var openJobs = 0

  private def add(op: String, key: String, v: Double): Unit =
    agg.getOrElseUpdate(op, mutable.Map.empty).updateWith(key)(o => Some(o.getOrElse(0.0) + v))

  // ---- client side ----

  /** One op's client spans; counters are read when it starts and ends. */
  final class OpTrace(id: String) {
    private val gc0 = gcMs()
    private val compileNs0 = CodeGenerator.compileTime
    private val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    private val persisted0 = sc.getPersistentRDDs.keySet.toSet
    private val start = nowMs()
    private var phaseName: String = null
    private var phaseStart = start
    private def closePhase(at: Double): Unit = if (phaseName != null) {
      val s = Span(s"$id/$phaseName", id, phaseName, phaseName, id, phaseStart, at)
      Tracer.this.synchronized { spans += s }
    }
    def phase(name: String): Unit = {
      val t = nowMs()
      closePhase(t)
      phaseName = name; phaseStart = t
      sc.setLocalProperty(SpanKey, s"$id/$name")
    }
    def end(s: Runner.Sample, dfTracker: Option[QueryPlanningTracker]): Unit = {
      val t = nowMs()
      closePhase(t)
      sc.setLocalProperty(SpanKey, null)
      Tracer.this.synchronized {
        spans += Span(id, null, "op", s.op, id, start, t)
        windows += OpWindow(id, start.toLong, math.ceil(t).toLong)
        add(id, "span.build_ms", s.buildNs / 1e6)
        add(id, "span.plan_ms", s.planNs / 1e6)
        add(id, "span.execute_ms", s.execNs / 1e6)
        add(id, "jvm.gc_ms", (gcMs() - gc0).toDouble)
        add(id, "codegen.compile_ms", (CodeGenerator.compileTime - compileNs0) / 1e6)
        add(id, "codegen.compiles",
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble)
        // persistent RDDs the op created and left behind
        add(id, "blocks.leaked", sc.getPersistentRDDs.keys.count(!persisted0(_)).toDouble)
        // the forced plan of the returned frame never reaches the listener
        // (no action runs on that QueryExecution), so its phases count here
        dfTracker.foreach(tr => plannerMetrics(tr, None).foreach { case (k, v) => add(id, k, v) })
      }
    }
  }

  def opStart(id: String): OpTrace = new OpTrace(id)

  /** Waits until the listener bus has gone quiet with no job open. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (System.currentTimeMillis() < deadline &&
           (openJobs > 0 || System.currentTimeMillis() - lastEventMs < 1000))
      Thread.sleep(100)
  }

  /** Per-op layer metrics, keyed by op id. */
  def perOp: Map[String, Map[String, Double]] = synchronized {
    pendingExecs.foreach { case (startMs, m) =>
      windows.find(w => startMs >= w.start && startMs <= w.end)
        .foreach(w => m.foreach { case (k, v) => add(w.id, k, v) })
    }
    pendingExecs.clear()
    stageTimes.foreach { case (op, ts) => add(op, "sched.stage_chain", longestChain(ts.toSeq)) }
    stageTimes.clear()
    agg.foreach { case (_, m) =>
      val run = m.getOrElse("task.run_ms", 0.0)
      m("task.cpu_frac") = if (run > 0) m.getOrElse("task.cpu_ms", 0.0) / run else 0.0
    }
    agg.map { case (k, v) => k -> v.toMap }.toMap
  }

  def writeSpans(path: String): Unit = synchronized {
    val w = new PrintWriter(path)
    try spans.foreach { s =>
      w.println(Json.obj(Seq(
        "id" -> Json.str(s.id),
        "parent" -> (if (s.parent == null) "null" else Json.str(s.parent)),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name), "op" -> Json.str(s.op),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end))))
    } finally w.close()
  }

  // ---- SparkListener ----

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse(op)
      jobOp(e.jobId) = (op, parent, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      openJobs += 1
      add(op, "sched.jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    jobOp.get(e.jobId).foreach { case (op, parent, start) =>
      spans += Span(s"job${e.jobId}", parent, "job", s"job ${e.jobId}", op,
        start.toDouble, e.time.toDouble)
      openJobs -= 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    val info = e.stageInfo
    for {
      job <- stageJob.get(info.stageId)
      (op, _, _) <- jobOp.get(job)
      start <- info.submissionTime
      end <- info.completionTime
    } {
      spans += Span(s"stage${info.stageId}.${info.attemptNumber()}", s"job$job", "stage",
        info.name, op, start.toDouble, end.toDouble)
      stageTimes.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((start, end))
      add(op, "sched.stages", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    val m = e.taskMetrics
    for {
      job <- stageJob.get(e.stageId)
      (op, _, _) <- jobOp.get(job)
      if m != null
    } {
      val info = e.taskInfo
      add(op, "task.run_ms", m.executorRunTime.toDouble)
      add(op, "task.cpu_ms", m.executorCpuTime / 1e6)
      add(op, "task.sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime).toDouble)
      add(op, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(op, "shuffle.read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      add(op, "shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add(op, "input.bytes", m.inputMetrics.bytesRead.toDouble)
      add(op, "input.rows", m.inputMetrics.recordsRead.toDouble)
      add(op, "output.bytes", m.outputMetrics.bytesWritten.toDouble)
      add(op, "output.rows", m.outputMetrics.recordsWritten.toDouble)
      add(op, "spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = lastEventMs = System.currentTimeMillis()

  // ---- QueryExecutionListener ----

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, Some(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(qe, None)

  private def record(qe: QueryExecution, plan: Option[SparkPlan]): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      pendingExecs += ((phases.map(_.startTimeMs).min, plannerMetrics(qe.tracker, plan)))
  }
}

object Tracer {
  private final case class Span(id: String, parent: String, kind: String,
                                name: String, op: String, start: Double, end: Double)
  private final case class OpWindow(id: String, start: Long, end: Long)

  /** Local property carrying the op id onto every job the op launches. */
  val OpKey = "perfbench.op"
  /** Local property naming the client span a job starts under. */
  val SpanKey = "perfbench.span"

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  /** Planning phases, injected-rule time and final-plan shape of one query
    * execution. */
  def plannerMetrics(tr: QueryPlanningTracker, plan: Option[SparkPlan]): Map[String, Double] = {
    def phase(p: String) = tr.phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val graftNs = tr.rules.collect { case (n, r) if n.startsWith("graft.") => r.totalTimeNs }.sum
    val shape = plan.map(planShape).getOrElse(Map.empty)
    Map(
      "plan.executions" -> 1.0,
      "plan.analysis_ms" -> phase(QueryPlanningTracker.ANALYSIS),
      "plan.optimization_ms" -> phase(QueryPlanningTracker.OPTIMIZATION),
      "plan.planning_ms" -> phase(QueryPlanningTracker.PLANNING),
      "plan.graft_rules_ms" -> graftNs / 1e6) ++ shape
  }

  /** Exchange and join counts in the final (post-AQE) physical plan. */
  def planShape(root: SparkPlan): Map[String, Double] = {
    var exchanges, bhj, smj = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        other match {
          case _: Exchange => exchanges += 1
          case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => bhj += 1
          case _: SortMergeJoinExec => smj += 1
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(root)
    Map("plan.exchanges" -> exchanges.toDouble, "plan.broadcast_joins" -> bhj.toDouble,
      "plan.sort_merge_joins" -> smj.toDouble)
  }

  /** Longest run of stages in which each starts after the previous ended. */
  def longestChain(stages: Seq[(Long, Long)]): Double = {
    val s = stages.sortBy(_._1).toArray
    val best = new Array[Int](s.length)
    for (i <- s.indices) {
      best(i) = 1
      for (j <- 0 until i if s(j)._2 <= s(i)._1) best(i) = math.max(best(i), best(j) + 1)
    }
    if (best.isEmpty) 0.0 else best.max.toDouble
  }
}
