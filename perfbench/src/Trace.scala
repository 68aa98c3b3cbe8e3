package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one benchmark operation share
  * `op`; `parent` is the enclosing span (0 for the operation's root). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, scale: Double) {
  def durNs: Long = endNs - startNs
  /** Duration adjusted to the nominal host speed by its operation's probe. */
  def adjMs: Double = durNs / 1e6 * scale
}

/** Spans around the benchmark's calls into each layer, kept in memory and
  * summarised and written with the result at exit. Each operation runs under its own Spark job group,
  * and each span tags the jobs it submits, so the listener can attribute
  * jobs, stages and tasks to layers. Disabled, it only runs the body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Open spans of this thread: (id, operation id, name, scale). */
  private val stack = ThreadLocal.withInitial[List[(Int, Int, String, Double)]](() => Nil)
  private def sc = spark.sparkContext
  /** Time spent in the tracer's own bookkeeping, outside the spans' bodies. */
  val overheadNs = new AtomicLong

  /** Root span of one operation; `scale` adjusts its spans to the nominal
    * host speed. */
  def op[T](name: String, scale: Double = 1.0)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = ids.incrementAndGet()
      sc.setJobGroup(s"perfbench-op-$id", name, interruptOnCancel = false)
      overheadNs.addAndGet(System.nanoTime() - t0)
      try run(id, 0, id, name, scale)(body)
      finally {
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        overheadNs.addAndGet(System.nanoTime() - t1)
      }
    }

  /** Span for one call into a layer, nested in the current operation. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else stack.get match {
      case (parent, opId, _, scale) :: _ =>
        run(ids.incrementAndGet(), parent, opId, name, scale)(body)
      case Nil => op(name)(body)
    }

  private def run[T](id: Int, parent: Int, opId: Int, name: String, scale: Double)(
      body: => T): T = {
    val e0 = System.nanoTime()
    val outer = stack.get
    stack.set((id, opId, name, scale) :: outer)
    sc.setLocalProperty(Tracer.LayerKey, name)
    val t0 = System.nanoTime()
    overheadNs.addAndGet(t0 - e0)
    try body
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, parent, opId, name, t0, t1, scale))
      stack.set(outer)
      sc.setLocalProperty(Tracer.LayerKey, outer.headOption.map(_._3).orNull)
      overheadNs.addAndGet(System.nanoTime() - t1)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover (children of one span never overlap: a span's
    * children run on its own thread, one after another). */
  def selfNs(of: Seq[Span]): Map[String, Long] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    of.foreach(s => if (s.parent != 0) childNs(s.parent) += s.durNs)
    of.groupMapReduce(_.name)(s => s.durNs - childNs(s.id))(_ + _)
  }
}

object Tracer {
  val LayerKey = "perfbench.layer"
}

/** Cumulative Spark-side counters, read as deltas around a window. */
final class SparkCounters {
  val jobs, stages, oneTaskStages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs, delayMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, inputBytes, inputRecords = new AtomicLong
  val queries, analysisMs, optimizationMs, planningMs = new AtomicLong
  /** Time spent in the listeners' callbacks. */
  val listenerNs = new AtomicLong
  /** Executor run time by the layer span whose job ran the task. */
  val layerTaskMs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "one_task_stages" -> oneTaskStages.get,
    "tasks" -> tasks.get, "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get,
    "gc_ms" -> gcMs.get, "delay_ms" -> delayMs.get,
    "shuffle_write" -> shuffleWrite.get, "shuffle_read" -> shuffleRead.get,
    "spill" -> spill.get, "input_bytes" -> inputBytes.get,
    "input_records" -> inputRecords.get, "queries" -> queries.get,
    "analysis_ms" -> analysisMs.get, "optimization_ms" -> optimizationMs.get,
    "planning_ms" -> planningMs.get)
}

/** The SparkListener and QueryExecutionListener of the traced run. */
final class LayerListener(c: SparkCounters) extends SparkListener
    with QueryExecutionListener {
  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    c.listenerNs.addAndGet(System.nanoTime() - t0)
  }

  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    c.jobs.incrementAndGet()
    val layer = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.LayerKey))).getOrElse("untraced")
    e.stageIds.foreach(stageLayer.put(_, layer))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    c.stages.incrementAndGet()
    if (e.stageInfo.numTasks == 1) c.oneTaskStages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.layerTaskMs.computeIfAbsent(stageLayer.getOrDefault(e.stageId, "untraced"),
        _ => new AtomicLong).addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      val wall = e.taskInfo.duration
      c.delayMs.addAndGet(math.max(0L, wall - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime))
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
    c.queries.incrementAndGet()
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => c.analysisMs.addAndGet(p.durationMs))
    ph.get("optimization").foreach(p => c.optimizationMs.addAndGet(p.durationMs))
    ph.get("planning").foreach(p => c.planningMs.addAndGet(p.durationMs))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
