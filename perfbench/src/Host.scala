package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.CyclicBarrier

/** The host's current speed, from a fixed reference kernel the benchmark
  * owns. Before each timed operation the kernel runs on `threads` threads,
  * each filling and sorting its own preallocated array, then following a
  * random cycle through a second array far larger than its core's cache:
  * Spark's operations slow with memory contention from other tenants much
  * more than a cache-resident sort does. The probe's result
  * is the fastest of [[Host.Runs]] runs, and an operation's reference is
  * the median of the last [[Host.Recent]] probes, its own included: the
  * host drifts over tens of seconds, while one probe scatters by a tenth.
  * An operation's time scaled by `RefNominalMs / ref` reads as
  * milliseconds at a nominal host speed, so runs on a host whose speed
  * drifts stay comparable.
  *
  * A probe runs only when `idle` holds (no Spark job active), and it
  * measures how busy the rest of the process was: the CPU time of every
  * other thread of the process, JIT and GC threads included, over the
  * probe's wall time times `threads`. A busy probe is retried; if the
  * process stays busy the probe fails, so work deferred into background
  * threads cannot make an operation look fast. */
final class Host(idle: () => Boolean, threads: Int) {
  private val arrays = Array.fill(threads)(new Array[Int](Host.KernelInts))
  private val cycles = {
    import scala.collection.parallel.CollectionConverters._
    (0 until threads).par.map(Host.cycle).seq.toArray
  }
  @volatile private var sink = 0
  private val go, done = new CyclicBarrier(threads + 1)
  /** Linux thread ids of the kernel threads, which each records on start. */
  private val kernelTids = new java.util.concurrent.ConcurrentHashMap[String, Unit]()
  private val workers = (0 until threads).map { i =>
    val t = new Thread(() => {
      kernelTids.put(ownTid, ())
      while (true) { go.await(); kernel(i); done.await() }
    }, s"perfbench-ref-$i")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Probes run, and the accepted probes' reference times and busy shares. */
  val refMs, busyFrac = new Samples
  private val recent = scala.collection.mutable.Queue.empty[Double]
  var probes = 0L
  /** Probe attempts rejected because the rest of the process was busy. */
  var busyRetries = 0L
  /** Wall time spent probing, including waits for running jobs; and the
    * part of it before the accepted measurement, spent waiting for the
    * rest of the process to go quiet. */
  var probeNs, waitNs = 0L

  private def kernel(i: Int): Unit = {
    val a = arrays(i)
    var x = 0x9e3779b9 + i
    var j = 0
    while (j < a.length) {
      x ^= x << 13; x ^= x >>> 17; x ^= x << 5
      a(j) = x
      j += 1
    }
    java.util.Arrays.sort(a)
    val c = cycles(i)
    var p = 0
    j = 0
    while (j < Host.ChaseSteps) {
      p = c(p)
      j += 1
    }
    sink = p
  }

  private def once(): Long = {
    val t0 = System.nanoTime()
    go.await()
    done.await()
    System.nanoTime() - t0
  }

  private def ownTid: String = Files.readSymbolicLink(Paths.get("/proc/thread-self")).getFileName.toString

  /** CPU time of every thread of the process but the kernel's and the
    * calling one's, in ns, from the scheduler's own per-thread accounting
    * (`/proc/self/task/<tid>/schedstat`), which counts the JVM's native
    * threads too. */
  private def otherCpuNs: Long = {
    val me = ownTid
    val tasks = new java.io.File("/proc/self/task").list()
    var sum = 0L
    tasks.foreach { tid =>
      if (tid != me && !kernelTids.containsKey(tid)) {
        try {
          val s = new String(Files.readAllBytes(Paths.get("/proc/self/task", tid, "schedstat")))
          sum += s.substring(0, s.indexOf(' ')).toLong
        } catch { case _: java.io.IOException => } // the thread has ended
      }
    }
    sum
  }

  /** One unguarded measurement: the fastest of [[Host.Runs]] kernel runs in
    * ms, and the share of `threads` cores the rest of the process used
    * meanwhile. */
  def measure(): (Double, Double) = {
    val (cpu0, w0) = (otherCpuNs, System.nanoTime())
    val best = Iterator.fill(Host.Runs)(once()).min / 1e6
    val wall = System.nanoTime() - w0
    (best, (otherCpuNs - cpu0).toDouble / (wall.toDouble * threads))
  }

  /** One probe: the operation's reference time in ms, or None when the
    * rest of the process stayed busy for [[Host.MaxWaitMs]] or a job never
    * finished. */
  def probe(): Option[Double] = {
    val t0 = System.nanoTime()
    val giveUp = t0 + Host.MaxWaitMs * 1000000L
    try {
      while (!idle() && System.nanoTime() < giveUp) Thread.sleep(1)
      var out: Option[Double] = None
      while (out.isEmpty && System.nanoTime() < giveUp && idle()) {
        // the probe itself runs only once the rest of the process is quiet
        val (q0, qw0) = (otherCpuNs, System.nanoTime())
        val waited = qw0 - t0
        Thread.sleep(Host.QuietMs)
        val quiet = (otherCpuNs - q0).toDouble / ((System.nanoTime() - qw0).toDouble * threads)
        val (best, busy) = if (quiet <= Host.MaxBusyFrac) measure() else (0.0, quiet)
        if (busy <= Host.MaxBusyFrac) {
          refMs.add(best)
          busyFrac.add(busy)
          waitNs += waited
          recent.enqueue(best)
          if (recent.size > Host.Recent) recent.dequeue()
          val sorted = recent.sorted
          out = Some(sorted(sorted.size / 2))
        } else busyRetries += 1
      }
      out
    } finally {
      probes += 1
      probeNs += System.nanoTime() - t0
    }
  }

  /** Runs the kernel until the JIT has compiled it. */
  def warm(): Unit = (0 until Host.WarmRuns).foreach(_ => once())
}

object Host {
  /** Reference time of the nominal host: adjusted figures read as
    * milliseconds on a host where one probe takes this long. Fixed once;
    * changing it would break comparisons with earlier results. */
  val RefNominalMs = 25.0
  /** Ints each kernel thread fills and sorts per run. */
  val KernelInts: Int = 1 << 16
  /** Ints of each thread's cycle (16 MB), and the steps taken along it. */
  val ChaseInts: Int = 1 << 22
  val ChaseSteps: Int = 1 << 17

  /** One random cycle through all of `ChaseInts` slots (Sattolo's shuffle),
    * fixed by `seed`: following it reads memory in an order no prefetcher
    * predicts. */
  def cycle(seed: Int): Array[Int] = {
    val rnd = new java.util.SplittableRandom(0x5eed + seed)
    val perm = Array.tabulate(ChaseInts)(identity)
    var k = ChaseInts - 1
    while (k > 0) {
      val r = rnd.nextInt(k)
      val t = perm(k); perm(k) = perm(r); perm(r) = t
      k -= 1
    }
    val next = new Array[Int](ChaseInts)
    (0 until ChaseInts).foreach(k => next(perm(k)) = perm((k + 1) % ChaseInts))
    next
  }
  /** Kernel runs per probe; the probe keeps the fastest. */
  val Runs = 2
  /** Probes whose median is an operation's reference. */
  val Recent = 5
  /** How long a probe retries before its operation counts as failed. */
  val MaxWaitMs = 3000L
  /** How long the rest of the process must stay quiet before a probe. */
  val QuietMs = 5L
  /** Share of the machine the rest of the process may use during a probe. */
  val MaxBusyFrac = 0.01
  val WarmRuns = 20
}

/** How far background load in the process moves the probe: runs the probe
  * unguarded with a spinning thread that uses a fixed share of one core,
  * the shares interleaved over several cycles so host drift falls on all
  * alike, and prints each share's median reference time and measured busy
  * share against no load.
  *
  * Run it with the build's classes and Spark's jars on the class path;
  * see README.md. */
object HostCheck {
  val Loads = Seq(0.0, 0.05, 0.1, 0.2, 0.4)
  val Cycles = 6
  val PerCycle = 10

  def main(argv: Array[String]): Unit = {
    val threads = Runtime.getRuntime.availableProcessors
    val host = new Host(() => true, threads)
    host.warm()
    val ref, busy = Loads.map(_ => new Samples)
    (1 to Cycles).foreach { _ =>
      Loads.indices.foreach { i =>
        @volatile var stop = false
        val spinner = new Thread(() => {
          val periodNs = 10000000L
          while (!stop) {
            val t0 = System.nanoTime()
            while (System.nanoTime() - t0 < (Loads(i) * periodNs).toLong) {}
            Thread.sleep(((periodNs - (System.nanoTime() - t0)) / 1000000L) max 0L)
          }
        })
        if (Loads(i) > 0) spinner.start()
        (1 to PerCycle).foreach { _ =>
          val (r, b) = host.measure()
          ref(i).add(r)
          busy(i).add(b)
        }
        stop = true
        if (Loads(i) > 0) spinner.join()
      }
    }
    val base = ref.head.median
    println(s"threads=$threads probes per load=${Cycles * PerCycle}")
    Loads.indices.foreach { i =>
      println(f"load ${Loads(i)}%.2f core: busy_frac median ${busy(i).median}%.4f " +
        f"max ${busy(i).quantile(1.0)}%.4f, ref_ms median ${ref(i).median}%.2f " +
        f"(${ref(i).median / base - 1}%+.3f against no load)")
    }
  }
}
