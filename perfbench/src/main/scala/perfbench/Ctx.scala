package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    tiny: Boolean, // self-test scale: a few pages, same code paths
    corrupt: Boolean, // self-test: corrupt one decoded page before its check
    work: File
)

/** What a timed op returns: its value, the input bytes it processed and,
  * for reads, the rows it returned.
  */
final case class Out[A](value: A, bytes: Long, rows: Long = 0L)

/** One timed call. `role` is the part it plays in its workload (load, read,
  * pass); `kind` names the engine entry point (encode, lookup, ...).
  */
final case class OpRec(
    id: Int,
    role: String,
    kind: String,
    cycle: Int,
    threads: Int,
    ms: Double, // wall time the op would have taken on CPUs it had to itself
    bytes: Long,
    rows: Long,
    traced: Boolean,
    startMs: Long,
    endMs: Long,
    stolen: Double, // share of the CPUs' runnable time the hypervisor gave to other guests
    wallMs: Double // wall time; `ms` is this less the stolen share
)

/** Run state shared by the runner and the workloads: the Spark session,
  * timed ops, correctness failures, heap peak and tracing.
  */
final class Ctx(val opts: Opts) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  var spark: SparkSession = _
  var threads: Int = cores
  val tracer = new Tracer
  var listener: Option[OpListener] = None
  val recs = mutable.ArrayBuffer.empty[OpRec]
  var cycle = 0
  var attempted = 0L
  val failedOps = mutable.LinkedHashSet.empty[Int]
  val failures = mutable.ArrayBuffer.empty[String]
  private var nextId = 0
  private var peakHeap = 0L

  def dir(name: String): String = new File(opts.work, name).getAbsolutePath

  def startSpark(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (opts.trace) {
      val l = new OpListener
      spark.sparkContext.addSparkListener(l)
      listener = Some(l)
    }
  }

  def stopSpark(): Unit = spark.stop()

  /** Ops of even cycles are traced on a traced run; odd cycles run without
    * spans or job tagging, and the difference is the tracing overhead.
    */
  def tracing: Boolean = opts.trace && cycle % 2 == 0

  /** Runs one timed op; a throw counts as a failed op. */
  def op[A](role: String, kind: String)(body: => Out[A]): Option[(Int, A)] = {
    val id = nextId
    nextId += 1
    attempted += 1
    val traced = tracing
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(OpListener.Key, id.toString)
    tracer.enabled = traced
    tracer.currentOp = id
    val w0 = System.currentTimeMillis()
    val (r, t) = Ctx.timed {
      try Some(tracer.span(s"$role:$kind")(body))
      catch { case NonFatal(e) => fail(id, s"$kind threw ${e.getClass.getName}: ${e.getMessage}"); None }
    }
    val w1 = System.currentTimeMillis()
    tracer.enabled = false
    sc.setLocalProperty(OpListener.Key, null)
    System.err.println(f"perfbench: op $id%d $role:$kind cycle=$cycle threads=$threads " +
      f"${t.ms}%.1f ms (wall ${t.wallMs}%.1f ms, stolen ${100 * t.stolen}%.1f%%)")
    r.map { o =>
      recs += OpRec(id, role, kind, cycle, threads, t.ms, o.bytes, o.rows, traced, w0, w1, t.stolen, t.wallMs)
      (id, o.value)
    }
  }

  /** Marks op `id` incorrect unless `ok`. */
  def verify(id: Int, ok: Boolean, what: => String): Unit = if (!ok) fail(id, what)

  /** An untimed verification read; counts as one attempted op. */
  def check(what: String)(body: => Boolean): Unit = {
    val id = nextId
    nextId += 1
    attempted += 1
    val ok = try body catch { case NonFatal(e) => System.err.println(s"$what threw: $e"); false }
    if (!ok) fail(id, what)
  }

  private def fail(id: Int, what: String): Unit = {
    failedOps += id
    if (failures.length < 20) failures += what
    System.err.println(s"perfbench: FAILED $what")
  }

  def failed: Long = failedOps.size.toLong

  /** Full GC, then record live heap; called between cycles, never inside an op. */
  def heapCheckpoint(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakHeap = math.max(peakHeap, used)
  }

  def peakHeapMb: Double = peakHeap / 1e6

  def layer[A](name: String)(body: => A): A = tracer.span(name)(body)

  /** Runs `body` with all task slots but one held by an idle job, so its
    * Spark work gets one core while the plans (and defaultParallelism)
    * stay those of the full-width session. Local mode only: the idle tasks
    * run in this JVM and wait on [[SlotBlocker]].
    */
  def oneSlot[A](body: => A): A = {
    val held = cores - 1
    SlotBlocker.release = new java.util.concurrent.CountDownLatch(1)
    SlotBlocker.holding.set(0)
    val sc = spark.sparkContext
    val blocker = new Thread(() => {
      sc.setJobGroup("perfbench-slot-blocker", "holds task slots", interruptOnCancel = false)
      sc.parallelize(0 until held, held).foreach { _ =>
        SlotBlocker.holding.incrementAndGet()
        SlotBlocker.release.await()
      }
    })
    blocker.start()
    while (SlotBlocker.holding.get() < held) Thread.sleep(2)
    threads = 1
    try body
    finally {
      threads = cores
      SlotBlocker.release.countDown()
      blocker.join()
    }
  }
}

object SlotBlocker {
  @volatile var release = new java.util.concurrent.CountDownLatch(0)
  val holding = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** A timed call: its wall time, and the share of that time the guest's
  * CPUs were runnable but held by the hypervisor for other guests.
  */
final case class Timing(wallMs: Double, stolen: Double) {
  /** The wall time less the stolen share: what the call would have taken
    * on CPUs it had to itself. On a quiet host this is the wall time.
    */
  def ms: Double = wallMs * (1 - stolen)
}

object Ctx {
  /** (steal, busy, total) jiffies of all CPUs from /proc/stat, where
    * present; busy is user + nice + system + irq + softirq.
    */
  def cpuTicks(): Option[(Long, Long, Long)] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f(7), f(0) + f(1) + f(2) + f(5) + f(6), f.take(8).sum)
      } finally src.close()
    }.toOption

  /** Steal as a share of all CPU time, idle included (the host's load). */
  def stealPct(from: Option[(Long, Long, Long)], to: Option[(Long, Long, Long)]): Double =
    (from zip to).map { case ((s0, _, t0), (s1, _, t1)) =>
      if (t1 > t0) 100.0 * (s1 - s0) / (t1 - t0) else 0.0
    }.getOrElse(0.0)

  /** Steal as a share of the time the CPUs had work: the hypervisor only
    * counts steal while a CPU is runnable, so this is the share of wanted
    * CPU time that other guests got.
    */
  def stolenShare(from: Option[(Long, Long, Long)], to: Option[(Long, Long, Long)]): Double =
    (from zip to).map { case ((s0, b0, _), (s1, b1, _)) =>
      val wanted = (s1 - s0) + (b1 - b0)
      if (wanted > 0) (s1 - s0).toDouble / wanted else 0.0
    }.getOrElse(0.0)

  def timed[A](body: => A): (A, Timing) = {
    val c0 = cpuTicks()
    val t0 = System.nanoTime()
    val r = body
    val wallMs = (System.nanoTime() - t0) / 1e6
    (r, Timing(wallMs, stolenShare(c0, cpuTicks())))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** The highest of p90/p75/p50 that has at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(90, 75, 50).find(p => xs.length * (100 - p) / 100 >= 10).map { p =>
      val s = xs.sorted
      (p, s(math.min(s.length - 1, math.ceil(s.length * p / 100.0).toInt - 1)))
    }
}
