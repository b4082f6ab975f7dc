package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** Runs one workload and prints two lines on stdout: a detail object
  * (environment, sample counts, the workload's own named metrics), then the
  * result object `{correct, attempted, failed, metrics}`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR [--tiny] [--corrupt]
  */
object Main {

  /** (name, unit) of the end-to-end metrics every workload reports. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_heap_mb" -> "MB",
    "load_rel" -> "x",
    "ratio" -> "ratio",
    "scale_eff" -> "ratio",
    "read_rel" -> "x",
    "pass_rel" -> "x"
  )

  val Roles = Seq("load", "read", "pass")

  val SetupRepeats = 3

  val MinCycles = 3

  /** (name, unit) of the per-layer metrics of a traced run. */
  val PerLayer: Seq[(String, String)] =
    Roles.flatMap(r => Seq(
      s"$r.wall_s" -> "s", s"$r.jobs" -> "count", s"$r.task_s" -> "s", s"$r.gc_s" -> "s",
      s"$r.driver_gap_s" -> "s", s"$r.shuffle_write_bytes" -> "bytes", s"$r.spill_bytes" -> "bytes",
      s"$r.entry_self_s" -> "s", s"$r.client_self_s" -> "s")) ++ Seq(
      "load.task_skew" -> "ratio",
      "read.rows_read_per_hit" -> "ratio",
      "trace.overhead_s" -> "s",
      "codec.text_encode_mb_s" -> "MB/s",
      "codec.text_decode_mb_s" -> "MB/s",
      "codec.sais_mb_s" -> "MB/s",
      "codec.column_binary_mb_s" -> "MB/s",
      "codec.column_long_mb_s" -> "MB/s",
      "codec.fm_count_us" -> "us"
    )

  private def parse(args: Array[String]): Opts = {
    val kv = mutable.HashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"unexpected argument $a")
      if (a == "--tiny" || a == "--corrupt") { kv(a) = "1"; i += 1 }
      else { require(i + 1 < args.length, s"$a needs a value"); kv(a) = args(i + 1); i += 2 }
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workload.Names.contains(w), s"unknown workload $w; choose one of ${Workload.Names.mkString(", ")}")
    Opts(w, need("--seed").toLong, need("--seconds").toInt, need("--trace") == "1",
      kv.contains("--tiny"), kv.contains("--corrupt"), new File(need("--work")))
  }

  private val jvmStart = System.nanoTime()
  private def progress(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - jvmStart) / 1e9}%.1f s $what")

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val ctx = new Ctx(opts)
    val loadStart = osLoad()
    val cpuStart = Ctx.cpuTicks()
    ctx.startSpark()
    val wl = Workload(opts.workload, opts)
    progress("session started, inputs generated")

    // set-up is repeated so its median is steady; the last one is used
    val setupT = (0 until SetupRepeats).map(a => Ctx.timed(wl.setup(ctx, a))._2)
    val setupS = setupT.map(_.ms / 1e3)
    progress("set-up done")

    // The reference op: the input table written as plain parquet and read
    // back whole, by Spark alone. It runs no graft code, so a change to the
    // engine cannot move it, while the host's speed moves it with the ops.
    def reference(): Unit = {
      val dir = ctx.dir("reference")
      ctx.op("ref", "parquet_roundtrip") {
        wl.writeInput(ctx, dir)
        val r = ctx.spark.read.parquet(dir).selectExpr("count(1)", "sum(hash(*))").first()
        Out(r.getLong(0), 0L, r.getLong(0))
      }.foreach { case (id, rows) =>
        ctx.verify(id, rows == wl.inputRows, s"reference read back $rows rows, expected ${wl.inputRows}")
      }
      Workload.deleteDir(dir)
    }

    // A cycle is the workload's ops at full width and the reference op;
    // every other cycle then runs its load op on one task slot (for
    // scale_eff), so all of them see the same state of the host.
    def fullCycle(oneSlot: Boolean): Unit = {
      wl.cycle(ctx)
      reference()
      if (oneSlot) ctx.oneSlot(wl.loadOp(ctx))
    }
    // unrecorded cycles -1, -2, ...; the first one's outputs are checked in full
    (1 to wl.warmupCycles).foreach { w =>
      ctx.cycle = -w
      fullCycle(w == 1 || w == wl.warmupCycles)
    }
    ctx.recs.clear()
    ctx.cycle = 0
    ctx.heapCheckpoint()
    progress("warm-up cycles done")

    // a fixed number of measured cycles, not a clock: op times are still
    // falling slowly as the JIT works, so every run measures the same ops
    // at the same point of the JVM's warm-up
    val cycles = math.max(MinCycles, math.round(opts.seconds / wl.cycleSeconds).toInt)
    while (ctx.cycle < cycles) {
      fullCycle(ctx.cycle % 2 == 0)
      ctx.cycle += 1
      ctx.heapCheckpoint()
    }
    progress(s"${ctx.cycle} cycles done")
    val ratio = wl.ratio(ctx)
    val codec = if (opts.trace) codecProbes(wl.codecSample) else Map.empty[String, Double]

    // stopping the context waits until the listener has seen every event
    ctx.stopSpark()
    val opStats = snapshot(ctx)
    val loadEnd = osLoad()
    val stealPct = Ctx.stealPct(cpuStart, Ctx.cpuTicks())

    val recs = ctx.recs.toSeq
    val full = recs.filter(_.threads == ctx.cores)
    def role(r: String) = full.filter(_.role == r)
    def mbs(rs: Seq[OpRec]) = Stats.median(rs.map(r => r.bytes / r.ms / 1e3))
    val loadN = mbs(role("load"))
    val load1 = mbs(recs.filter(r => r.threads == 1 && r.role == "load"))
    val passS = role("pass").groupBy(_.cycle).values.toSeq.map(_.map(_.ms).sum / 1e3 / wl.passRounds)

    // op times as multiples of the reference op's median time
    val refS = Stats.median(role("ref").map(_.ms)) / 1e3
    val e2e: Map[String, Double] = Map(
      "setup_s" -> Stats.median(setupS),
      "peak_heap_mb" -> ctx.peakHeapMb,
      "load_rel" -> Stats.median(role("load").map(_.ms)) / 1e3 / refS,
      "ratio" -> ratio,
      "scale_eff" -> loadN / (ctx.cores * load1),
      "read_rel" -> Stats.median(role("read").map(_.ms)) / 1e3 / refS,
      "pass_rel" -> Stats.median(passS) / refS
    )
    val layer: Map[String, Double] =
      if (!opts.trace) Map.empty
      else perLayer(ctx, full, opStats) ++ codec

    val (names, units) =
      if (opts.trace) (PerLayer.map(_._1), PerLayer.toMap) else (EndToEnd.map(_._1), EndToEnd.toMap)
    val values = if (opts.trace) layer else e2e
    names.filter(n => !values.get(n).exists(v => !v.isNaN && !v.isInfinite))
      .foreach(n => ctx.check(s"metric $n was measured")(false))

    val detail = Json.obj(
      "workload" -> Json.str(opts.workload),
      "seed" -> Json.num(opts.seed.toDouble),
      "seconds" -> Json.num(opts.seconds.toDouble),
      "tracing" -> Json.bool(opts.trace),
      "error_rate" -> Json.num(ctx.failed.toDouble / ctx.attempted),
      "failures" -> Json.arr(ctx.failures.map(Json.str).toSeq),
      "env" -> Json.obj(
        "nproc" -> Json.num(ctx.cores.toDouble),
        "loadavg_start" -> Json.num(loadStart),
        "loadavg_end" -> Json.num(loadEnd),
        "cpu_steal_pct" -> Json.num(stealPct),
        "git_commit" -> Json.str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
        "source_digest" -> Json.str(sys.env.getOrElse("PERFBENCH_SOURCE_DIGEST", "unknown")),
        "jvm_max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
        "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
        "java_version" -> Json.str(System.getProperty("java.version"))
      ),
      "setup_s_samples" -> Json.arr(setupS.map(Json.num)),
      "setup_stolen" -> Json.arr(setupT.map(t => Json.num(t.stolen))),
      "measured_cycles" -> Json.num(ctx.cycle.toDouble),
      "named" -> Json.obj(named(full): _*)
    )
    println(detail)
    val metrics = names.map { n =>
      val v = values.getOrElse(n, 0.0)
      n -> Json.obj("value" -> Json.num(if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> Json.str(units(n)))
    }
    println(Json.obj(
      "correct" -> Json.bool(ctx.failed == 0),
      "attempted" -> Json.num(ctx.attempted.toDouble),
      "failed" -> Json.num(ctx.failed.toDouble),
      "metrics" -> Json.obj(metrics: _*)))
  }

  private def osLoad(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The listener's stats of every traced op; call after the context stopped. */
  private def snapshot(ctx: Ctx): Map[Int, OpStats] = ctx.listener match {
    case None => Map.empty
    case Some(l) => ctx.recs.filter(_.traced).map(r => r.id -> l.statsOf(r.id)).toMap
  }

  /** Latency and rate of each entry point this workload called, with
    * sample counts (all ops on all task slots).
    */
  private def named(full: Seq[OpRec]): Seq[(String, String)] =
    full.groupBy(_.kind).toSeq.sortBy(_._1).flatMap { case (kind, rs) =>
      val ms = rs.map(_.ms)
      val rated = rs.filter(_.bytes > 0)
      Seq(
        s"${kind}_p50_ms" -> Json.metric(Stats.median(ms), "ms", rs.length),
        s"${kind}_wall_p50_ms" -> Json.metric(Stats.median(rs.map(_.wallMs)), "ms", rs.length),
        s"${kind}_mb_s" -> Json.metric(Stats.median(rated.map(r => r.bytes / r.ms / 1e3)), "MB/s", rated.length)
      ) ++ Stats.tail(ms).map { case (p, v) => s"${kind}_p${p}_ms" -> Json.metric(v, "ms", rs.length) }
    }

  /** Per-role means over the traced ops at full thread count. */
  private def perLayer(ctx: Ctx, full: Seq[OpRec], stats: Map[Int, OpStats]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    Roles.foreach { r =>
      val traced = full.filter(o => o.role == r && o.traced)
      val n = math.max(traced.length, 1).toDouble
      def sum(f: (OpRec, OpStats) => Double) =
        traced.map(o => f(o, stats.getOrElse(o.id, new OpStats))).sum / n
      out(s"$r.wall_s") = sum((o, _) => o.wallMs / 1e3)
      out(s"$r.jobs") = sum((_, s) => s.jobs)
      out(s"$r.task_s") = sum((_, s) => s.taskMs / 1e3)
      out(s"$r.gc_s") = sum((_, s) => s.gcMs / 1e3)
      out(s"$r.driver_gap_s") = sum((o, s) => (o.endMs - o.startMs - s.stageCoveredMs(o.startMs, o.endMs)) / 1e3)
      out(s"$r.shuffle_write_bytes") = sum((_, s) => s.shuffleWriteBytes.toDouble)
      out(s"$r.spill_bytes") = sum((_, s) => s.spillBytes.toDouble)
      // entry-point spans (named after the graft call) vs the op's own span
      val self = traced.map(o => ctx.tracer.selfNanos(o.id).partition(_._1.startsWith("graft.")))
      out(s"$r.entry_self_s") = self.map(_._1.values.sum / 1e9).sum / n
      out(s"$r.client_self_s") = self.map(_._2.values.sum / 1e9).sum / n
    }
    val loads = full.filter(o => o.role == "load" && o.traced)
    out("load.task_skew") = Stats.median(loads.map(o => stats.getOrElse(o.id, new OpStats).taskSkew))
    val reads = full.filter(o => o.role == "read" && o.traced)
    out("read.rows_read_per_hit") =
      reads.map(o => stats.getOrElse(o.id, new OpStats).recordsRead).sum.toDouble / math.max(1L, reads.map(_.rows).sum)
    val (tr, un) = full.partition(_.traced)
    out("trace.overhead_s") = Roles.map { r =>
      Stats.median(tr.filter(_.role == r).map(_.ms)) - Stats.median(un.filter(_.role == r).map(_.ms))
    }.filterNot(_.isNaN).sum / 1e3
    out.toMap
  }

  /** Single-thread codec calls on a fixed sample of the workload's pages. */
  private def codecProbes(pages: IndexedSeq[Page]): Map[String, Double] = {
    import graft.codec._
    val sample = pages.take(48).map(_.text.getBytes(UTF_8))
    val bytes = sample.map(_.length.toLong).sum
    def rate(totalBytes: Long)(f: => Unit): Double = {
      f // warm
      var n = 0
      val t0 = System.nanoTime()
      while (n < 3 || System.nanoTime() - t0 < 250000000L) { f; n += 1 }
      totalBytes * n / ((System.nanoTime() - t0) / 1e3)
    }
    val enc = sample.map(Pipelines.textEncode)
    val urls = pages.map(_.url.getBytes(UTF_8)).sortBy(new String(_, UTF_8)).toArray
    val ts = pages.map(p => p.warc_ts.getTime * 1000L).toArray
    val doc = sample.maxBy(_.length)
    val fm = FmIndex.build(doc)
    val pats = (0 until 32).map { i =>
      val at = (i * 7919) % math.max(1, doc.length - 8)
      java.util.Arrays.copyOfRange(doc, at, at + math.min(6, doc.length - at))
    }
    val countRate = rate(pats.length.toLong)(pats.foreach(p => fm.count(p)))
    Map(
      "codec.text_encode_mb_s" -> rate(bytes)(sample.foreach(Pipelines.textEncode)),
      "codec.text_decode_mb_s" -> rate(bytes)(enc.foreach(Pipelines.textDecode)),
      "codec.sais_mb_s" -> rate(bytes)(sample.foreach(SuffixArrays.build)),
      "codec.column_binary_mb_s" -> rate(urls.map(_.length.toLong).sum)(ColumnCodec.encodeBinary(urls)),
      "codec.column_long_mb_s" -> rate(8L * ts.length)(ColumnCodec.encodeLong(ts)),
      "codec.fm_count_us" -> 1.0 / countRate
    )
  }

  type Page = graft.spark.Page
}

/** Minimal JSON writer; values are pre-rendered strings. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String = kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def metric(v: Double, unit: String, n: Int): String =
    obj("value" -> num(v), "unit" -> str(unit), "n" -> num(n.toDouble))
}
