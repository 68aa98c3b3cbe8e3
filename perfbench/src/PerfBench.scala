package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process. Writes the
  * run's result as JSON to `--out`; `perfbench/run.py` builds, launches
  * this main, checks the query answers against DuckDB and prints the
  * metrics. */
object PerfBench {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, fixtures: String, work: String, out: String, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("fixtures"), m("work"), m("out"), m("cpus").toInt)
  }

  /** `graft.Bench`'s session settings, with the core count of this host. */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.cacheInputs", "true")
      .config("graft.orderedOutput", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // rewritten lake files sized to the benchmark's small tables
      .config("spark.graft.targetFileBytes", Workloads.FileBytes.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val ctx = new Ctx(spark, a)
    ctx.phase("session")
    try {
      a.workload match {
        case "olap" => Workloads.olap(ctx)
        case "cdc" => Workloads.cdc(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      Files.writeString(Paths.get(a.out), ctx.resultJson)
    } finally spark.stop()
  }
}

/** Plain samples, with linear interpolation between the closest ranks. */
final class Samples {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def add(x: Double): Unit = xs += x
  def size: Int = xs.size
  def values: Seq[Double] = xs.toSeq
  def sum: Double = xs.sum
  def quantile(q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median: Double = quantile(0.5)
}

/** One elapsed time, raw and adjusted to the nominal host speed. */
final case class Lap(raw: Double, adj: Double)

/** Elapsed times of one operation class, raw and host-adjusted side by side. */
final class Timings {
  val raw, adj = new Samples
  def add(l: Lap): Unit = { raw.add(l.raw); adj.add(l.adj) }
  def size: Int = adj.size
}

/** The clock of one timed operation, started right after its host probe. */
final class Clock(refMs: Double) {
  val scale: Double = Host.RefNominalMs / refMs
  private val t0 = System.nanoTime()
  /** Milliseconds since the operation started. */
  def lap(): Lap = {
    val raw = (System.nanoTime() - t0) / 1e6
    Lap(raw, raw * scale)
  }
}

/** State of one run: the session, the host probe, tracing, failure
  * accounting, the timed window and the metrics gathered for the result. */
final class Ctx(val spark: SparkSession, val args: PerfBench.Args) {
  private val hostT0 = System.nanoTime()
  val host = new Host(() => spark.sparkContext.statusTracker.getActiveJobIds.isEmpty, args.cpus)
  host.warm()
  /** Building and warming the host probe: the harness's, not set-up's. */
  private val hostSetupNs = System.nanoTime() - hostT0
  val tracer = new Tracer(spark, args.trace)
  val counters: Option[SparkCounters] =
    if (!args.trace) None
    else {
      val c = new SparkCounters
      val l = new LayerListener(c)
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(c)
    }
  val heap = new HeapWatch
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]()
  /** The workload's end-to-end figures: (adjusted, raw, unit). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, Double, String)]
  /** The gated figures of BENCHMARK.json, taken from `e2e`. */
  val gated = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  /** Per-class timings of the window, kept in the result file. */
  val timings = mutable.LinkedHashMap.empty[String, Timings]
  /** Time of each round of the window: one pass over the workload's
    * operation classes. */
  val rounds = new Timings
  /** Adjusted times of the window's successive units of equal work, in
    * order, for the warm-up check. */
  val trend = new Samples
  var warmRounds = 0
  /** Timed operations of the window that succeeded. */
  var windowOps = 0L

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  var windowStartNs = 0L
  var windowEndNs = 0L
  private var windowProbeNs = 0L
  private var setupS = 0.0
  private var startSnap: Map[String, Double] = Map.empty
  private var endSnap: Map[String, Double] = Map.empty

  def work(sub: String): String = {
    val p = Paths.get(args.work, sub)
    Files.createDirectories(p)
    p.toString
  }

  def timing(cls: String): Timings = timings.getOrElseUpdate(cls, new Timings)

  /** Marks the end of a set-up phase: seconds since process start, printed
    * with the result. */
  def phase(name: String): Unit =
    info(s"setup_at_s.$name") = f"${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f"

  def inWindow: Boolean = windowStartNs > 0 && windowEndNs == 0

  /** Keeps a time of class `cls` when the window is open. */
  def record(cls: String, l: Lap): Unit = if (inWindow) timing(cls).add(l)

  def recordRound(l: Lap): Unit = if (inWindow) rounds.add(l)

  def recordTrend(adj: Double): Unit = if (inWindow) trend.add(adj)

  /** Reports `setup_s`, adjusted by the median of all the run's host
    * probes (set-up's alone are fewer and taken while the JIT is busiest),
    * and gates it and the workload's figures under BENCHMARK.json's names. */
  def gate(names: (String, String)*): Unit = {
    e2e("setup_s") = (setupS * Host.RefNominalMs / host.refMs.median, setupS, "s")
    (("setup_s" -> "setup_s") +: names).foreach { case (g, m) => gated(g) = e2e(m)._1 }
  }

  /** Record a failed or wrong operation with its reason. */
  def fail(what: String, reason: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 50) failures.add(s"$what: $reason")
  }

  def fail(what: String, e: Throwable): Unit = fail(what,
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(300)}")

  /** Run one attempted, untimed operation; an exception counts it as failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body) catch { case NonFatal(e) => fail(what, e); None }
  }

  /** One timed operation: a host probe, then `body` as one traced
    * operation, timed by the clock it is given. None, counted as failed,
    * when the body throws or the probe found the process busy. Warm-up
    * operations, which are never timed, skip the probe. */
  def op[T](what: String)(body: Clock => T): Option[T] = {
    attempted.incrementAndGet()
    val ref = if (inWindow) host.probe() else Some(Host.RefNominalMs)
    val clock = new Clock(ref.getOrElse(Double.NaN))
    val out = try Some(tracer.op(what, clock.scale)(body(clock))) catch {
      case NonFatal(e) => fail(what, e); None
    }
    if (out.isDefined && ref.isEmpty)
      fail(what, s"the host probe found over ${Host.MaxBusyFrac} of the machine busy " +
        s"for ${Host.MaxWaitMs} ms, or a Spark job still running")
    if (out.isDefined && ref.isDefined && inWindow) windowOps += 1
    out.filter(_ => ref.isDefined)
  }

  private def snap(): Map[String, Double] = {
    // traced or not, the window opens and closes with every posted Spark
    // event handled, so set-up's event backlog never runs inside it
    org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
    val base = Map(
      "codegen_ns" -> org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime.toDouble,
      "codegen_classes" -> org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "cached_bytes" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble)
    base ++ counters.map(_.snapshot.map { case (k, v) => k -> v.toDouble }).getOrElse(Map.empty)
  }

  /** End of set-up: everything since process start is `setup_s`, but for
    * building and warming the host probe. */
  def startWindow(): Unit = {
    startSnap = snap()
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - hostSetupNs / 1e9
    phase("warm")
    info("host_setup_s") = f"${hostSetupNs / 1e9}%.2f"
    // the first timed operation's reference is a median of full length
    (1 until Host.Recent).foreach { _ =>
      attempted.incrementAndGet()
      if (host.probe().isEmpty) fail("host probe before the window", "the process stayed busy")
    }
    windowProbeNs = host.probeNs
    windowStartNs = System.nanoTime()
  }

  def endWindow(): Unit = {
    windowEndNs = System.nanoTime()
    windowProbeNs = host.probeNs - windowProbeNs
    endSnap = snap()
  }

  def delta(k: String): Double = endSnap.getOrElse(k, 0.0) - startSnap.getOrElse(k, 0.0)
  def startValue(k: String): Double = startSnap.getOrElse(k, 0.0)

  /** Spans of the timed window. */
  def windowSpans: Seq[Span] = tracer.all.filter(s => s.startNs >= windowStartNs)

  /** Mean host-adjusted time of the window's spans of one layer call. */
  def spanMeanMs(name: String): Double = {
    val ss = windowSpans.filter(_.name == name)
    if (ss.isEmpty) 0.0 else ss.map(_.adjMs).sum / ss.size
  }

  /** Report a figure as p50 of a timing class, adjusted and raw. */
  def p50(name: String, t: Timings): Unit =
    e2e(name) = (t.adj.median, t.raw.median, "ms")

  /** Per-layer metrics shared by every workload, from the listeners, the
    * codegen counters and the JVM, per timed operation of the window;
    * `resultRows` is the rows the timed operations returned. */
  def sparkLayers(resultRows: Long): Unit = {
    val n = math.max(windowOps, 1L).toDouble
    val mb = 1024.0 * 1024.0
    layer("catalyst.analysis_ms") = delta("analysis_ms") / n
    layer("catalyst.optimization_ms") = delta("optimization_ms") / n
    layer("catalyst.planning_ms") = delta("planning_ms") / n
    layer("codegen.compile_ms") = delta("codegen_ns") / 1e6 / n
    layer("codegen.classes") = delta("codegen_classes") / n
    layer("sched.jobs") = delta("jobs") / n
    layer("sched.stages") = delta("stages") / n
    layer("sched.tasks") = delta("tasks") / n
    layer("sched.one_task_stage_frac") =
      if (delta("stages") > 0) delta("one_task_stages") / delta("stages") else 0.0
    layer("sched.delay_ms") = delta("delay_ms") / n
    layer("exec.task_ms") = delta("run_ms") / n
    layer("exec.cpu_ms") = delta("cpu_ns") / 1e6 / n
    layer("exec.gc_ms") = delta("gc_ms") / n
    layer("exec.core_util") = delta("run_ms") / (busyNs / 1e6 * args.cpus)
    layer("shuffle.write_mb") = delta("shuffle_write") / mb / n
    layer("shuffle.read_mb") = delta("shuffle_read") / mb / n
    layer("shuffle.spill_mb") = delta("spill") / mb / n
    layer("scan.input_mb") = delta("input_bytes") / mb / n
    layer("scan.rows_per_result") = delta("input_records") / math.max(resultRows, 1L)
  }

  /** Window time not spent probing the host: the operations' share. */
  private def busyNs: Double = (windowEndNs - windowStartNs - windowProbeNs).toDouble

  /** Self time per layer over the window, reconciled with the window's
    * wall time less the host probes' time, a clock the spans do not
    * share. A traced run outside either tolerance counts one failed
    * operation. */
  private def reconcile(): Unit = if (args.trace) {
    val spans = windowSpans
    val self = tracer.selfNs(spans)
    val rootNames = spans.filter(_.parent == 0).map(_.name).toSet
    val total = self.values.sum.toDouble
    val err = if (busyNs > 0) math.abs(total - busyNs) / busyNs else 1.0
    val unattributed = if (total > 0) rootNames.toSeq.map(self).sum / total else 1.0
    layer("trace.reconcile_err_frac") = err
    layer("trace.unattributed_frac") = unattributed
    layer("trace.overhead_frac") =
      (tracer.overheadNs.get + counters.map(_.listenerNs.get).getOrElse(0L)) / busyNs
    attempted.incrementAndGet()
    if (err > Ctx.ReconcileTolerance || unattributed > Ctx.UnattributedTolerance)
      fail("trace reconciliation", f"span self time ${total / 1e6}%.1f ms against window " +
        f"wall less probes ${busyNs / 1e6}%.1f ms (error $err%.4f, tolerance " +
        f"${Ctx.ReconcileTolerance}), unattributed $unattributed%.4f (tolerance " +
        f"${Ctx.UnattributedTolerance})")
    self.toSeq.sortBy(-_._2).foreach { case (k, v) => info(s"self_ms.$k") = f"${v / 1e6}%.1f" }
    counters.foreach(_.layerTaskMs.asScala.foreach { case (k, v) => info(s"task_ms.$k") = v.get.toString })
  }

  def resultJson: String = {
    layer("host.ref_ms") = host.refMs.median
    layer("host.ref_busy_frac") = host.busyFrac.median
    layer("host.quiet_wait_ms") = host.waitNs / 1e6 / math.max(host.refMs.size, 1)
    layer("warm.rounds") = warmRounds
    // second half of the window against the first, by median
    val half = trend.size / 2
    val adj = trend.values
    layer("warm.trend_frac") =
      if (half == 0) 0.0
      else median(adj.drop(trend.size - half)) / median(adj.take(half)) - 1
    layer("jvm.gc_ms") = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum.toDouble
    layer("jvm.jit_ms") = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
    layer("jvm.heap_peak_mb") = heap.peakMb
    reconcile()
    Workloads.LayerNames.foreach(n => layer.getOrElseUpdate(n, 0.0))
    info("jdk") = System.getProperty("java.version")
    info("spark") = spark.version
    info("cpus") = args.cpus.toString
    info("probes") = host.probes.toString
    info("probe_busy_retries") = host.busyRetries.toString
    info("probe_busy_max") = f"${host.busyFrac.quantile(1.0)}%.4f"
    info("rounds") = rounds.size.toString
    // a figure with no sample (NaN) is written as null
    def num(d: Double): Any = if (d.isNaN || d.isInfinite) null else d
    Json.write(Map(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "attempted" -> attempted.get, "failed" -> failed.get,
      "failures" -> failures.asScala.toSeq, "gated" -> gated.view.mapValues(num).toMap,
      "e2e" -> e2e.map { case (k, (a, r, u)) => k -> Map("adj" -> num(a), "raw" -> num(r), "unit" -> u) },
      "per_layer" -> layer.view.mapValues(num).toMap, "info" -> info,
      "samples" -> (timings.toSeq :+ ("round" -> rounds)).map { case (k, t) =>
        k -> Map("adj" -> t.adj.values, "raw" -> t.raw.values) }.toMap,
      "probes_ms" -> host.refMs.values,
      // every span, set-up's too: id, parent, operation, layer, start
      // relative to the window in ms, duration in ms, host scale
      "spans" -> tracer.all.map(sp => Seq(sp.id, sp.parent, sp.op, sp.name,
        (sp.startNs - windowStartNs) / 1e6, sp.durNs / 1e6, num(sp.scale)))))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = new Samples
    xs.foreach(s.add)
    s.median
  }
}

object Ctx {
  /** Traced runs: |span self time - (window wall - probe time)| over the
    * latter, and the share of operation time outside every layer span. */
  val ReconcileTolerance = 0.02
  val UnattributedTolerance = 0.05
}

/** Peak heap after GC, from GC notifications. */
final class HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
      }, null, null)
    case _ =>
  }

  def peakMb: Double = peak / 1048576.0
}

/** JSON rendering of the result files, with the engine's Jackson. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}

object Disk {
  /** Total bytes of the regular files under `p` whose names end with `suffix`. */
  def bytesUnder(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix))
        .mapToLong(Files.size(_)).sum()
      finally walk.close()
    }
}
