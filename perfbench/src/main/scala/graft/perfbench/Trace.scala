package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans and counters for the traced run.
  *
  * A span is (id, parent, name, start, end); spans opened on one thread
  * nest under the innermost open span of that thread. Counters are named
  * sums. Nothing is written until [[writeJson]] at the end of the run, and
  * a disabled tracer records nothing (the untraced run pays one branch per
  * call). */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  val originNs: Long = System.nanoTime()

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val parent = open.get().headOption.getOrElse(0L)
      open.set(id :: open.get())
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        open.set(open.get().tail)
      }
    }

  /** A top-level span whose bounds were measured elsewhere. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(nextId.getAndIncrement(), 0L, name, startNs, endNs))

  def add(name: String, v: Double): Unit =
    if (enabled) counters.merge(name, v, (a, b) => a + b)

  def max(name: String, v: Double): Unit =
    if (enabled) counters.merge(name, v, (a, b) => math.max(a, b))

  def resetCounters(): Unit = counters.clear()

  def counter(name: String): Double = Option(counters.get(name)).map(_.doubleValue).getOrElse(0.0)

  /** Sum of the durations (ms) of every span with this name. */
  def totalMs(name: String): Double =
    spans.asScala.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("{\"spans\":[\n")
    def ms(ns: Long) = "%.3f".formatLocal(java.util.Locale.ROOT, ns / 1e6)
    sb.append(spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${ms(s.startNs - originNs)},"dur_ms":${ms(s.endNs - s.startNs)}}"""
    }.mkString(",\n"))
    sb.append("\n],\"counters\":")
    sb.append(Json.obj(counters.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> (v.doubleValue: Any) }))
    sb.append("}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

  /** Records nothing: for work outside the measured region (warm-up). */
  val off = new Tracer(false)
}

/** Spark-side counters for the traced run, attributed to layers.
  *
  * A job belongs to the operation named by the `graft.perfbench.op` local
  * property the benchmark sets around its calls (`state`, `sink`,
  * `queries`); an untagged job started by a streaming query belongs to
  * `sources` (the boundary probes). Task metrics are summed per layer from
  * task-end events. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  private val stageLayer = new ConcurrentHashMap[Int, String]()

  private def layerOf(job: SparkListenerJobStart): String = {
    def prop(k: String) = Option(job.properties).flatMap(p => Option(p.getProperty(k)))
    prop(LayerListener.OpKey).getOrElse {
      // Untagged jobs on a stream's thread run outside foreachBatch: the
      // source's boundary probes.
      if (prop("sql.streaming.queryId").isDefined ||
          job.stageInfos.exists(_.details.contains("CdcTableProvider.scala"))) "sources"
      else "other"
    }
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = {
    val layer = layerOf(job)
    tracer.add(s"jobs.$layer", 1)
    job.stageInfos.foreach(s => stageLayer.put(s.stageId, layer))
    // Stages without parents scan the input: one task per input partition.
    tracer.add(s"scan_tasks.$layer", job.stageInfos.filter(_.parentIds.isEmpty).map(_.numTasks).sum)
    // The result stage of a sink job runs one producer transaction per task.
    if (job.stageInfos.nonEmpty)
      tracer.add(s"result_tasks.$layer", job.stageInfos.maxBy(_.stageId).numTasks)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val layer = stageLayer.getOrDefault(e.stageInfo.stageId, "other")
    tracer.add(s"stages.$layer", 1)
    tracer.add(s"tasks.$layer", e.stageInfo.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val layer = stageLayer.getOrDefault(e.stageId, "other")
    tracer.add(s"run_ms.$layer", m.executorRunTime.toDouble)
    tracer.add(s"cpu_ms.$layer", m.executorCpuTime / 1e6)
    tracer.add(s"shuffle_write_bytes.$layer", m.shuffleWriteMetrics.bytesWritten.toDouble)
    tracer.add(s"shuffle_read_bytes.$layer", m.shuffleReadMetrics.totalBytesRead.toDouble)
    tracer.add(s"spill_bytes.$layer", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    tracer.add(s"records_read.$layer", m.inputMetrics.recordsRead.toDouble)
    tracer.max(s"peak_mem_bytes.$layer", m.peakExecutionMemory.toDouble)
  }
}

object LayerListener {
  val OpKey = "graft.perfbench.op"

  /** Run `f` with every Spark job it starts on this thread tagged `op`. */
  def tagged[T](spark: SparkSession, op: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try f finally sc.setLocalProperty(OpKey, prev)
  }
}

/** Analysis + optimization + planning time of every Dataset action. */
final class PlanListener(tracer: Tracer) extends QueryExecutionListener {
  val actions = new AtomicLong(0)

  private def phases(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    tracer.add("plan_ms", ms.toDouble)
    tracer.add("plan_actions", 1)
    actions.incrementAndGet()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Wait (bounded) until `n` actions have been reported: the listener bus
    * is asynchronous, and per-query attribution needs the count settled. */
  def awaitActions(n: Long, timeoutMs: Long = 2000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (actions.get() < n && System.currentTimeMillis() < deadline) Thread.sleep(2)
  }
}
