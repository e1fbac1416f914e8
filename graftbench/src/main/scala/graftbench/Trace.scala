package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The outside-in layer trace. With tracing off every call is a plain
  * pass-through and no listener is registered.
  *
  * With tracing on, the benchmark wraps each of its calls into a layer
  * in a span (`sources`, `operators`, `functions`, `action`). Spans of
  * one op share the op's id. Spark jobs inherit the span's tag through
  * a local property, so the SparkListener attributes every job, stage
  * and task to the op and layer that caused it; the
  * QueryExecutionListener adds Catalyst's planning phases, and Spark's
  * CodegenMetrics counters give the codegen compiles per op.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val ops = mutable.LinkedHashMap.empty[Long, OpTrace]
  private val stageOwner = mutable.Map.empty[Int, OpTrace]
  /** (start ms, planning ms) of every planned query. */
  private val planned = mutable.ArrayBuffer.empty[(Long, Long)]
  private val lock = new Object
  private var current: OpTrace = _

  if (enabled) {
    sc.addSparkListener(new Listener)
    spark.listenerManager.register(new PlanListener)
  }

  /** Run one op, traced under `id`. */
  def op[T](id: Long, name: String, key: String)(body: => T): T =
    if (!enabled) body
    else {
      val t = new OpTrace(id, name, key)
      lock.synchronized { ops(id) = t; current = t }
      t.compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      t.compileNs0 = CodeGenerator.compileTime
      t.gc0 = gcMs()
      t.startMs = System.currentTimeMillis()
      t.startNs = System.nanoTime()
      try body
      finally {
        t.wallNs = System.nanoTime() - t.startNs
        t.endMs = System.currentTimeMillis()
        t.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - t.compiles0
        t.compileNs = CodeGenerator.compileTime - t.compileNs0
        t.gcMs = gcMs() - t.gc0
        sc.setLocalProperty(SpanKey, null)
      }
    }

  /** A span around one call into `layer`, inside the current op. */
  def span[T](layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val t = current
      sc.setLocalProperty(SpanKey, s"${t.id}/$layer")
      val t0 = System.nanoTime()
      try body
      finally {
        t.spans += ((layer, System.nanoTime() - t0))
        sc.setLocalProperty(SpanKey, null)
      }
    }

  def setRowsOut(id: Long, n: Long): Unit = if (enabled) ops(id).rowsOut = n

  /** All op traces, once the listener bus has drained (after stop). A
    * planned query belongs to the op whose interval holds its start; the
    * listener may hear of it before the op has ended, so it is assigned
    * here rather than on arrival.
    */
  def traces: Seq[OpTrace] = lock.synchronized {
    for ((start, planMs) <- planned; t <- ops.valuesIterator.find(t => start >= t.startMs && start <= t.endMs)) {
      t.queries += 1
      t.planMs += planMs
    }
    planned.clear()
    ops.values.toSeq
  }

  private def owner(props: java.util.Properties): Option[(OpTrace, String)] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).flatMap { tag =>
      val Array(id, layer) = tag.split("/", 2)
      lock.synchronized(ops.get(id.toLong)).map(_ -> layer)
    }

  private final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = owner(e.properties).foreach { case (t, layer) =>
      lock.synchronized {
        t.jobs(e.jobId) = Job(layer, e.time, -1L)
        e.stageInfos.foreach(s => stageOwner(s.stageId) = t)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      ops.valuesIterator.find(_.jobs.contains(e.jobId)).foreach { t =>
        t.jobs(e.jobId) = t.jobs(e.jobId).copy(endMs = e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageOwner.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageOwner.get(e.stageId).foreach { t =>
        t.counts("tasks") += 1
        if (e.reason != org.apache.spark.Success) t.counts("failed_tasks") += 1
        Option(e.taskMetrics).foreach { m =>
          t.counts("exec_run_ms") += m.executorRunTime
          t.counts("exec_cpu_ns") += m.executorCpuTime
          t.counts("input_rows") += m.inputMetrics.recordsRead
          t.counts("input_bytes") += m.inputMetrics.bytesRead
          t.counts("shuffle_records") += m.shuffleReadMetrics.recordsRead
          t.counts("shuffle_bytes") += m.shuffleReadMetrics.totalBytesRead
          t.counts("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
          t.counts("bytes_written") += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Catalyst's analysis, optimization and planning time of every
    * planned query (`QueryPlanningTracker`).
    */
  private final class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val planMs = phases.collect { case (p, s) if p != "parsing" => s.durationMs }.sum
        lock.synchronized(planned += ((phases.values.map(_.startTimeMs).min, planMs)))
      }
    }
  }
}

object Trace {
  val SpanKey = "graftbench.span"

  final case class Job(layer: String, startMs: Long, endMs: Long)

  final class OpTrace(val id: Long, val name: String, val key: String) {
    var startMs, endMs, startNs, wallNs = 0L
    var compiles0, compiles, compileNs0, compileNs, gc0, gcMs = 0L
    var stages, queries = 0
    var planMs, rowsOut = 0L
    val spans = mutable.ArrayBuffer.empty[(String, Long)]
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val counts = mutable.LinkedHashMap(
      Seq("tasks", "failed_tasks", "exec_run_ms", "exec_cpu_ns", "input_rows", "input_bytes", "shuffle_records",
        "shuffle_bytes", "spill_bytes", "bytes_written").map(_ -> 0L): _*)
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
