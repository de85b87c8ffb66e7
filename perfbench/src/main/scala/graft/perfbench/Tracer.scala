package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-pass layer counters from Spark's own events: a SparkListener for
  * jobs, stages and task metrics, and a QueryExecutionListener for the
  * planning phases and the exchanges of every executed plan. Only the
  * traced run installs it. */
final class Tracer(spark: SparkSession, slots: Int, tmpRoot: File) {
  private val MB = 1048576.0

  private val jobs, stages, tasks = new AtomicLong
  private val taskMs, taskCpuNs = new AtomicLong
  private val shuffleWrite, shuffleRead, spill = new AtomicLong
  private val outBytes, outRecords, inBytes = new AtomicLong
  private val queries, analysisMs, optimizationMs, planningMs = new AtomicLong
  private val exchanges = new AtomicLong
  private val broadcastBytes, scanExchangeBytes = new DoubleAdder

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
        outBytes.addAndGet(m.outputMetrics.bytesWritten)
        outRecords.addAndGet(m.outputMetrics.recordsWritten)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      queries.incrementAndGet()
      notePhases(qe)
      nodes(qe.executedPlan).foreach {
        case s: ShuffleExchangeExec =>
          exchanges.incrementAndGet()
          if (overScan(s.child))
            scanExchangeBytes.add(metric(s, "shuffleBytesWritten"))
        case b: BroadcastExchangeExec =>
          exchanges.incrementAndGet()
          broadcastBytes.add(metric(b, "dataSize"))
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  private def notePhases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(ms("analysis"))
    optimizationMs.addAndGet(ms("optimization"))
    planningMs.addAndGet(ms("planning"))
  }

  /** Analysis of a user-built frame happens when it is built, before any
    * action, so the listener never sees it: add it here. */
  def noteAnalysis(df: DataFrame): Unit =
    analysisMs.addAndGet(df.queryExecution.tracker.phases.get("analysis")
      .map(_.durationMs).getOrElse(0L))

  /** Every node of a physical plan, through adaptive stages and subqueries;
    * reused exchanges are skipped so that each exchange counts once. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Seq.empty
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** An exchange that sits directly on a file scan (through row
    * conversion, codegen wrappers, projections and filters only). */
  private def overScan(p: SparkPlan): Boolean = p match {
    case _: FileSourceScanExec => true
    case u if u.children.size == 1 && Tracer.passThrough.exists(u.nodeName.startsWith) => overScan(u.children.head)
    case _ => false
  }

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  private var snapshot: Map[String, Double] = Map.empty
  private var gc0 = 0L
  private var tmp0 = 0L

  private def counters: Map[String, Double] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_ms" -> taskMs, "task_cpu_ns" -> taskCpuNs,
    "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
    "spill" -> spill, "out_bytes" -> outBytes, "out_records" -> outRecords,
    "in_bytes" -> inBytes, "queries" -> queries, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "exchanges" -> exchanges).map { case (k, v) => k -> v.get.toDouble } ++ Map(
    "broadcast" -> broadcastBytes.sum, "scan_exchange" -> scanExchangeBytes.sum)

  def begin(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    snapshot = counters
    gc0 = gcMs
    tmp0 = dirBytes(tmpRoot)
  }

  /** This pass's layer metrics, given its wall time. */
  def end(wallS: Double): Json.Obj = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val now = counters
    def d(k: String) = now(k) - snapshot(k)
    val taskS = d("task_ms") / 1000.0
    Json.Obj(
      "fixture.scan_exchange_mb" -> d("scan_exchange") / MB,
      "planning.queries" -> d("queries"),
      "planning.analysis_ms" -> d("analysis_ms"),
      "planning.optimization_ms" -> d("optimization_ms"),
      "planning.physical_ms" -> d("planning_ms"),
      "scheduling.jobs" -> d("jobs"),
      "scheduling.stages" -> d("stages"),
      "scheduling.tasks" -> d("tasks"),
      "scheduling.outside_tasks_s" -> (wallS - taskS / slots),
      "execution.task_s" -> taskS,
      "execution.task_cpu_s" -> d("task_cpu_ns") / 1e9,
      "execution.gc_s" -> (gcMs - gc0) / 1000.0,
      "execution.slot_use" -> taskS / (wallS * slots),
      "exchange.shuffle_write_mb" -> d("shuffle_write") / MB,
      "exchange.shuffle_read_mb" -> d("shuffle_read") / MB,
      "exchange.spill_mb" -> d("spill") / MB,
      "exchange.broadcast_mb" -> d("broadcast") / MB,
      "exchange.exchanges" -> d("exchanges"),
      "fsio.output_mb" -> d("out_bytes") / MB,
      "fsio.output_records" -> d("out_records"),
      "fsio.input_mb" -> d("in_bytes") / MB,
      "fsio.tmp_mb" -> (dirBytes(tmpRoot) - tmp0) / MB)
  }
}

object Tracer {
  private val passThrough = Set("ColumnarToRow", "WholeStageCodegen", "InputAdapter",
    "Project", "Filter")
}
