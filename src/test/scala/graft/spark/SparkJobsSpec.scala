package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import java.nio.charset.StandardCharsets.UTF_8

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val JobsBefore = "graft-spec-jobs-before"
  private val JobsAfter = "graft-spec-jobs-after"

  /** The number of Spark jobs `body` starts. A listener sees job starts
    * in the order the listener bus delivers them, so every job is counted
    * that starts after a marker job run before `body` and before a marker
    * job run after it (events of earlier tests still in the queue fall
    * before the first marker).
    */
  def jobsOf(body: => Unit): Int = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker(JobsBefore)
      body
      marker(JobsAfter)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!started.contains(JobsAfter) && System.nanoTime() < deadline) Thread.sleep(10)
      val seen = started.asScala.toSeq
      assert(seen.contains(JobsBefore) && seen.contains(JobsAfter), s"marker jobs not seen: $seen")
      seen.dropWhile(_ != JobsBefore).drop(1).takeWhile(_ != JobsAfter).size
    } finally sc.removeSparkListener(listener)
  }
}

/** Test-side lineage oracle. Per part: (n_rows, n_chunks, bytes_in,
  * bytes_out, xor of payload hashes, codec set), either aggregated here
  * from the chunks table's metadata columns or folded from the `_lineage`
  * rows, so a spec can check that a table's lineage describes its chunks.
  */
object LineageOracle {
  type Agg = (Long, Long, Long, Long, Long, Set[String])
  /** A dropped part's zero-row tombstone, folded. */
  val Tombstone: Agg = (0L, 0L, 0L, 0L, 0L, Set.empty)
  private val cols = Seq("url", "warc_ts", "html", "text", "lang")

  private def fold(rows: Seq[(Int, Agg)]): Map[Int, Agg] =
    rows.groupBy(_._1).map { case (pid, rs) =>
      pid -> rs.map(_._2).reduce { (a, b) =>
        (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4, a._5 ^ b._5, a._6 ++ b._6)
      }
    }

  def fromChunks(spark: SparkSession, out: String): Map[Int, Agg] =
    if (!EncodeJob.hasCommittedChunks(spark, out)) Map.empty
    else fold(TableScan.chunks(spark, out).collect().toSeq.map { r =>
      val cs = cols.map(c => r.getAs[org.apache.spark.sql.Row](c))
      r.getAs[Int]("part_id") -> ((r.getAs[Int]("n_rows").toLong, 1L,
        cs.map(_.getAs[Long]("bytes_in")).sum, cs.map(_.getAs[Long]("bytes_out")).sum,
        cs.map(_.getAs[Long]("payload_hash")).reduce(_ ^ _),
        cols.zip(cs).map { case (c, cc) => s"$c=${cc.getAs[String]("codec")}" }.toSet))
    })

  /** `records` folded to one aggregate per part. */
  def of(records: Seq[LineageRecord]): Map[Int, Agg] =
    fold(records.map { l =>
      l.part_id -> ((l.n_rows, l.n_chunks, l.bytes_in, l.bytes_out, l.payload_hash,
        l.codecs.split(',').filter(_.nonEmpty).toSet))
    })

  /** The table's `_lineage` rows, folded. */
  def folded(spark: SparkSession, out: String): Map[Int, Agg] = {
    import spark.implicits._
    of(if (!EncodeJob.hasCommittedFileUnder(spark, EncodeJob.lineagePath(out))) Seq.empty
      else spark.read.parquet(EncodeJob.lineagePath(out)).as[LineageRecord].collect().toSeq)
  }
}

/** Tree walks that descend into adaptive plans and their query stages. */
object AqePlans extends AdaptiveSparkPlanHelper

/** Local-mode shared-JVM failure switch for the crash-resume test. */
object FailureInjection {
  @volatile var armed: Boolean = false
}

class SparkJobsSpec extends AnyFunSuite {
  import TestSpark.{jobsOf, spark}

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/out"
  }

  /** (part_id, chunk_id) -> the five per-column payload hashes. */
  private def chunkHashMap(out: String): Map[(Int, Int), Seq[Long]] =
    spark.read.parquet(EncodeJob.chunksPath(out))
      .select("part_id", "chunk_id", "url.payload_hash", "warc_ts.payload_hash",
        "html.payload_hash", "text.payload_hash", "lang.payload_hash")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap

  test("pages generator is deterministic and schema-exact") {
    val p1 = PagesGen.page(42L, 7L, 100, hostSkew = false)
    val p2 = PagesGen.page(42L, 7L, 100, hostSkew = false)
    assert(p1.url == p2.url && p1.text == p2.text && p1.lang == p2.lang)
    assert(java.util.Arrays.equals(p1.html, p2.html))
    assert(p1.warc_ts == p2.warc_ts)
    val df = PagesGen.generate(spark, 50, partitions = 4).toDF()
    assert(df.columns.toSeq == Seq("url", "warc_ts", "html", "text", "lang"))
    assert(df.count() == 50)
  }

  test("encode -> decode -> verify: bit-identical and size gate") {
    val out = tmpDir("roundtrip")
    val pages = PagesGen.generate(spark, 200, partitions = 4)
    EncodeJob.run(spark, pages, out, EncodeConfig(numPartitions = 4, chunkRows = 64))
    val report = VerifyJob.run(spark, pages, out)
    assert(report.rows_source == 200)
    assert(report.rows_decoded == 200)
    assert(report.mismatched_rows == 0, report)
    assert(report.except_violations == 0, report)
    assert(report.size_gate_ok, report)
  }

  test("resume: completed partitions are skipped; missing ones re-encoded idempotently") {
    import spark.implicits._
    val out = tmpDir("resume")
    val pages = PagesGen.generate(spark, 150, partitions = 4)
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 64)

    EncodeJob.run(spark, pages, out, cfg)
    val lineage1 = spark.read.parquet(EncodeJob.lineagePath(out))
      .as[LineageRecord].collect().sortBy(_.part_id)

    // a second run with everything done must be a no-op
    EncodeJob.run(spark, pages, out, cfg)
    val lineage2 = spark.read.parquet(EncodeJob.lineagePath(out))
      .as[LineageRecord].collect().sortBy(_.part_id)
    assert(lineage2.length == lineage1.length, "no-op rerun must not add lineage")

    // simulate a lost partition: drop one part's lineage (as if its attempt
    // died before checkpointing) — rerun must re-encode exactly that part
    val victim = lineage1.head.part_id
    val kept = lineage1.filterNot(_.part_id == victim)
    val lineageDir = new java.io.File(EncodeJob.lineagePath(out))
    lineageDir.listFiles().foreach(_.delete())
    spark.createDataset(kept.toIndexedSeq).write.mode("overwrite")
      .parquet(EncodeJob.lineagePath(out))

    EncodeJob.run(spark, pages, out, cfg)
    val lineage3 = spark.read.parquet(EncodeJob.lineagePath(out))
      .as[LineageRecord].collect().sortBy(_.part_id)
    assert(lineage3.map(_.part_id).toSeq == lineage1.map(_.part_id).toSeq)
    // re-encoded partition is byte-identical to the original attempt
    val h1 = lineage1.find(_.part_id == victim).get.payload_hash
    val h3 = lineage3.find(_.part_id == victim).get.payload_hash
    assert(h1 == h3, "re-encode must be deterministic/idempotent")
    // untouched partitions keep their hashes too
    kept.foreach { r =>
      assert(lineage3.find(_.part_id == r.part_id).get.payload_hash == r.payload_hash)
    }
    // and the data is still fully decodable + identical
    val report = VerifyJob.run(spark, pages, out)
    assert(report.mismatched_rows == 0 && report.except_violations == 0)
  }

  test("crashed run leaves no committed state; clean rerun completes and verifies") {
    import spark.implicits._
    val out = tmpDir("crash")
    val pages = PagesGen.generate(spark, 120, partitions = 4)
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 64)

    // inject a mid-job failure: one poisoned document makes its encode
    // task (and so the whole write job) fail before commit
    val poisoned = pages.map { p =>
      if (FailureInjection.armed && p.url.hashCode % 7 == 0)
        throw new RuntimeException("injected task failure")
      p
    }
    FailureInjection.armed = true
    val failed =
      try { EncodeJob.run(spark, poisoned, out, cfg); false }
      catch { case _: Throwable => true }
    FailureInjection.armed = false
    assert(failed, "injected failure must fail the job")
    // no lineage checkpoint may exist for the aborted attempt
    assert(EncodeJob.donePartIds(spark, out).isEmpty, "aborted job must not checkpoint lineage")

    // rerun (resume from nothing) completes and passes the gates
    EncodeJob.run(spark, poisoned, out, cfg) // armed=false: same dataset, no poison
    val report = VerifyJob.run(spark, pages, out)
    assert(report.mismatched_rows == 0 && report.except_violations == 0, report)
  }

  test("null text/html/lang survive the encode/decode roundtrip (real crawl data has them)") {
    import spark.implicits._
    val out = tmpDir("nulls")
    val base = PagesGen.generate(spark, 60, partitions = 2).collect()
    val withNulls = base.zipWithIndex.map { case (p, i) =>
      i % 5 match {
        case 0 => p.copy(text = null)
        case 1 => p.copy(html = null)
        case 2 => p.copy(lang = null)
        case 3 => p.copy(text = null, html = null, lang = null)
        case _ => p
      }
    }
    val ds = spark.createDataset(withNulls.toIndexedSeq)
    EncodeJob.run(spark, ds, out, EncodeConfig(numPartitions = 2, chunkRows = 16))
    val report = VerifyJob.run(spark, ds, out)
    assert(report.rows_decoded == 60)
    assert(report.mismatched_rows == 0, report)
    assert(report.except_violations == 0, report)
    // decoded nulls really are nulls, not empty strings
    val decoded = DecodeJob.run(spark, out).collect().map(p => p.url -> p).toMap
    withNulls.foreach { p =>
      val d = decoded(p.url)
      assert((d.text == null) == (p.text == null), s"text nullness ${p.url}")
      assert((d.html == null) == (p.html == null), s"html nullness ${p.url}")
      assert((d.lang == null) == (p.lang == null), s"lang nullness ${p.url}")
    }
  }

  test("map-side pre-encode: same bit-identical result, compressed shuffle") {
    import spark.implicits._
    val out = tmpDir("preenc")
    val base = PagesGen.generate(spark, 80, partitions = 2).collect()
    val withNulls = base.zipWithIndex.map { case (p, i) =>
      if (i % 7 == 0) p.copy(text = null) else if (i % 11 == 0) p.copy(html = null) else p
    }
    val ds = spark.createDataset(withNulls.toIndexedSeq)
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 32)
    EncodeJob.run(spark, ds, out, cfg)
    val report = VerifyJob.run(spark, ds, out)
    assert(report.rows_decoded == 80)
    assert(report.mismatched_rows == 0, report)
    assert(report.except_violations == 0, report)
    // lineage raw byte accounting survives pre-encoding
    val lin = spark.read.parquet(EncodeJob.lineagePath(out))
    val bytesIn = lin.agg(org.apache.spark.sql.functions.sum("bytes_in")).first().getLong(0)
    val expected = withNulls.map { p =>
      p.url.getBytes("UTF-8").length.toLong + 8L +
        (if (p.html == null) 0L else p.html.length.toLong) +
        (if (p.text == null) 0L else p.text.getBytes("UTF-8").length.toLong) +
        (if (p.lang == null) 0L else p.lang.getBytes("UTF-8").length.toLong)
    }.sum
    assert(bytesIn == expected, s"bytes_in $bytesIn vs $expected")
  }

  /** The chunk layout contract of the encode kernel, checked on the table
    * at `out`: within each part the chunk ids run 0..n-1, every chunk but
    * the part's last holds exactly `chunkRows` rows, the decoded urls in
    * chunk-id order strictly increase in unsigned UTF-8 byte order,
    * `url_min`/`url_max` are each chunk's first/last url, and the part's
    * lineage row equals the aggregates of its chunk rows.
    */
  private def assertChunkLayout(out: String, chunkRows: Int, nRows: Int): Unit = {
    import spark.implicits._
    val chunks = spark.read.parquet(EncodeJob.chunksPath(out)).as[EncodedChunk].collect()
    val lineage = spark.read.parquet(EncodeJob.lineagePath(out)).as[LineageRecord].collect()
    assert(lineage.map(_.part_id).sorted.toSeq == chunks.map(_.part_id).distinct.sorted.toSeq,
      "one lineage row per written part")
    assert(chunks.map(_.n_rows.toLong).sum == nRows)
    chunks.groupBy(_.part_id).foreach { case (pid, cs0) =>
      val cs = cs0.sortBy(_.chunk_id)
      assert(cs.map(_.chunk_id).toSeq == cs.indices, s"part $pid: chunk ids not contiguous from 0")
      cs.init.foreach(c => assert(c.n_rows == chunkRows, s"part $pid chunk ${c.chunk_id}: ${c.n_rows} rows"))
      assert(cs.last.n_rows >= 1 && cs.last.n_rows <= chunkRows, s"part $pid tail: ${cs.last.n_rows} rows")
      val urls = cs.toSeq.flatMap { c =>
        val us = graft.codec.ColumnCodec.decodeBinary(c.url.payload)
        assert(us.length == c.n_rows)
        assert(c.url_min == new String(us.head, UTF_8) && c.url_max == new String(us.last, UTF_8),
          s"part $pid chunk ${c.chunk_id}: url_min/url_max are not its first/last url")
        us.toSeq
      }
      urls.sliding(2).foreach {
        case Seq(a, b) => assert(java.util.Arrays.compareUnsigned(a, b) < 0,
          s"part $pid: urls not strictly increasing in UTF-8 byte order: " +
            s"${new String(a, UTF_8)} then ${new String(b, UTF_8)}")
        case _ => ()
      }
      val l = lineage.filter(_.part_id == pid)
      assert(l.length == 1, s"part $pid: ${l.length} lineage rows")
      assert(l.head.n_rows == cs.map(_.n_rows.toLong).sum, s"part $pid: lineage n_rows")
      assert(l.head.n_chunks == cs.length, s"part $pid: lineage n_chunks")
      assert(l.head.bytes_in == cs.map(_.bytesIn).sum, s"part $pid: lineage bytes_in")
      assert(l.head.bytes_out == cs.map(_.bytesOut).sum, s"part $pid: lineage bytes_out")
      assert(l.head.payload_hash == cs.map(_.hashXor).foldLeft(0L)(_ ^ _), s"part $pid: lineage payload_hash")
      assert(l.head.codecs == cs.flatMap(_.columns.map { case (n, c) => s"$n=${c.codec}" })
        .distinct.sorted.mkString(","), s"part $pid: lineage codecs")
    }
  }

  test("encode kernel chunk layout: ids, sizes, url order, ranges, lineage") {
    // exercise chunk boundaries: 96 rows / 32-row chunks = exact multiple,
    // a ragged tail, and chunkRows=1 (every row its own chunk, so part
    // changes land exactly on chunk boundaries)
    Seq(96 -> 32, 100 -> 32, 17 -> 1).foreach { case (nRows, chunkRows) =>
      val pages = PagesGen.generate(spark, nRows, partitions = 3)
      val out = tmpDir(s"layout_${nRows}_$chunkRows")
      EncodeJob.run(spark, pages, out, EncodeConfig(numPartitions = 3, chunkRows = chunkRows))
      assertChunkLayout(out, chunkRows, nRows)
    }
  }

  test("encode kernel orders supplementary-character urls by UTF-8 bytes") {
    // U+FFF0 sorts AFTER U+1F600 in UTF-16 code units (surrogate 0xD83D <
    // 0xFFF0) but BEFORE it in UTF-8 bytes (EF BF B0 < F0 9F 98 80). Chunks
    // must follow the UTF-8 order Catalyst's BinaryType sort gives — the
    // order url_min/url_max range pruning compares in.
    import spark.implicits._
    val base = PagesGen.generate(spark, 12, partitions = 1).collect()
    val pages = base.zipWithIndex.map { case (p, i) =>
      val marker = if (i % 2 == 0) "￰" else "😀" // U+FFF0 vs U+1F600
      p.copy(url = s"https://x.test/$marker/${i / 2}")
    }
    val out = tmpDir("nonbmp")
    EncodeJob.run(spark, spark.createDataset(pages.toIndexedSeq), out,
      EncodeConfig(numPartitions = 2, chunkRows = 4))
    assertChunkLayout(out, 4, 12)
  }

  test("drop-set probe: UTF-8 byte order, byte-prefix urls, empty set") {
    // U+FFF0 sorts after U+1F600 in UTF-16 code units but before it in
    // UTF-8 bytes: a set sorted as Strings would miss members here
    val members = Seq("https://x.test/\uFFF0/1", "https://x.test/\uD83D\uDE00/1",
      "https://x.test/a", "https://x.test/ab", "https://x.test/\uFFF0", "https://x.test/b")
    val sorted = EncodeJob.sortedUtf8(members)
    members.foreach(u => assert(EncodeJob.containsUtf8(sorted, u.getBytes(UTF_8)), u))
    // byte-prefixes and extensions of members are not members
    Seq("https://x.test/", "https://x.test/abc", "https://x.test/\uD83D\uDE00",
      "https://x.test/\uD83D\uDE00/1/", "https://x.test/\uFFF0/", "https://x.test/\uD83D\uDE01/1")
      .foreach(u => assert(!EncodeJob.containsUtf8(sorted, u.getBytes(UTF_8)), u))
    assert(EncodeJob.sortedUtf8(Nil).isEmpty)
    assert(!EncodeJob.containsUtf8(EncodeJob.sortedUtf8(Nil), "https://x.test/a".getBytes(UTF_8)))
    assert(!EncodeJob.containsUtf8(EncodeJob.sortedUtf8(Nil), Array.emptyByteArray))
  }

  test("a null warc_ts fails the encode with an error naming the column") {
    import spark.implicits._
    val base = PagesGen.generate(spark, 20, partitions = 2).collect()
    val pages = base.zipWithIndex.map { case (p, i) => if (i == 7) p.copy(warc_ts = null) else p }
    val out = tmpDir("nullts")
    val e = intercept[Exception] {
      EncodeJob.run(spark, spark.createDataset(pages.toIndexedSeq), out,
        EncodeConfig(numPartitions = 2, chunkRows = 8))
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(EncodeJob.NullWarcTsError)), messages.mkString("\n"))
    assert(EncodeJob.donePartIds(spark, out).isEmpty, "a failed encode must not checkpoint lineage")
  }

  test("SearchJob.runWithIndex: second invocation never touches docs (no SA-IS)") {
    import spark.implicits._
    val docs = spark.createDataset(Seq(("a", "abracadabra"), ("b", "banana band stand")))
    val dir = tmpDir("searchidx")
    val viaIndex = SearchJob.runWithIndex(spark, docs, Seq("ab", "an"), dir)
      .collect().map(h => (h.doc_key, h.pattern, h.cnt, h.first_pos)).toSet
    val oneShot = SearchJob.run(spark, docs, Seq("ab", "an"))
      .collect().map(h => (h.doc_key, h.pattern, h.cnt, h.first_pos)).toSet
    assert(viaIndex == oneShot)
    // an index table now exists at dir: a poisoned docs dataset proves the
    // second invocation reads only the stored index
    val poisoned = docs.map { _ => sys.error("docs must not be evaluated"): (String, String) }
    val second = SearchJob.runWithIndex(spark, poisoned, Seq("ab", "an"), dir)
      .collect().map(h => (h.doc_key, h.pattern, h.cnt, h.first_pos)).toSet
    assert(second == oneShot)
  }

  test("salting spreads skewed url-hosts across partitions") {
    import org.apache.spark.sql.functions._
    val skewed = PagesGen.generate(spark, 2000, hostSkew = true, partitions = 4)
    def maxPartFraction(saltFactor: Int): Double = {
      val counts = skewed
        .withColumn("part_id", EncodeJob.partIdCol(EncodeConfig(numPartitions = 16, saltFactor = saltFactor)))
        .groupBy("part_id").count().collect().map(_.getLong(1))
      counts.max.toDouble / counts.sum
    }
    val unsalted = maxPartFraction(1)
    val salted = maxPartFraction(8)
    assert(salted < unsalted,
      s"salting should flatten the skew: salted=$salted unsalted=$unsalted")
    // uniform would be 1/16 ≈ 0.0625; unsalted skew puts ~80% of rows on
    // ≤5 of 16 partitions (max ≥ ~0.16 guaranteed, often ~0.3). Allow for
    // bucket-collision variance on the salted side.
    assert(salted <= 0.20, s"salted max partition fraction too high: $salted")
  }

  test("distributed FM search matches naive counting") {
    import spark.implicits._
    val docs = Seq(
      ("d1", "abracadabra abracadabra"),
      ("d2", "the quick brown fox"),
      ("d3", "aaaaaa")
    ).toDS()
    val hits = SearchJob.run(spark, docs, Seq("abra", "a", "fox", "zz"))
      .collect().map(h => (h.doc_key, h.pattern) -> h).toMap
    assert(hits(("d1", "abra")).cnt == 4)
    assert(hits(("d1", "abra")).first_pos == Some(1L))
    assert(hits(("d2", "fox")).cnt == 1)
    assert(hits(("d2", "fox")).first_pos == Some(17L))
    assert(hits(("d3", "a")).cnt == 6)
    assert(hits(("d2", "zz")).cnt == 0)
    assert(hits(("d2", "zz")).first_pos == None)
  }

  test("lookupUrls / decodeUrlPrefix: point reads decode only range-covering chunks") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = tmpDir("lookup")
    val pages = PagesGen.generate(spark, 300, partitions = 4)
    EncodeJob.run(spark, pages, out, EncodeConfig(numPartitions = 4, chunkRows = 8))
    val all = pages.collect()

    // point lookup: exact pages back, bit-identical
    val wanted = Seq(all(7), all(123), all(250))
    val got = DecodeJob.lookupUrls(spark, out, wanted.map(_.url)).collect()
      .map(p => p.url -> p).toMap
    assert(got.size == 3)
    wanted.foreach { p =>
      val d = got(p.url)
      assert(d.text == p.text && d.lang == p.lang && d.warc_ts == p.warc_ts)
      assert(java.util.Arrays.equals(d.html, p.html))
    }
    // absent url: no row, no error
    assert(DecodeJob.lookupUrls(spark, out, Seq("https://nope.example/x")).count() == 0)
    assert(DecodeJob.lookupUrls(spark, out, Seq.empty).count() == 0)

    // the chunk filter really prunes: chunk url ranges are disjoint within
    // a part, so a url's range test matches at most one chunk per part —
    // 3 urls x 4 parts bounds the match at 12 of the ~40 groups
    val chunks = spark.read.parquet(EncodeJob.chunksPath(out))
    val totalGroups = chunks.select("part_id", "chunk_id").distinct().count()
    val pred = wanted.map(p => col("url_min") <= p.url && col("url_max") >= p.url)
      .reduce(_ || _)
    val matchedGroups = chunks.filter(pred).select("part_id", "chunk_id").distinct().count()
    assert(totalGroups >= 35, s"want many chunks for a meaningful test, got $totalGroups")
    assert(matchedGroups <= 12, s"pruning failed: $matchedGroups of $totalGroups chunks matched")

    // prefix read: one host's slice, compared against the full decode
    val prefix = "https://host3."
    val viaPrefix = DecodeJob.decodeUrlPrefix(spark, out, prefix).collect().map(_.url).sorted
    val expected = all.filter(_.url.startsWith(prefix)).map(_.url).sorted
    assert(viaPrefix.toSeq == expected.toSeq && expected.nonEmpty)

    // range read: [lo, hi) in UTF-8 byte order
    val sortedUrls = all.map(_.url).sorted
    val (lo, hi) = (sortedUrls(50), sortedUrls(80))
    val viaRange = DecodeJob.decodeUrlRange(spark, out, lo, hi).collect().map(_.url).sorted
    assert(viaRange.toSeq == sortedUrls.slice(50, 80).toSeq)
  }

  test("append: delta becomes new chunks only; union decodes; re-append is a no-op") {
    import spark.implicits._
    val out = tmpDir("append")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 32)
    val base = PagesGen.generate(spark, 150, partitions = 4)
    EncodeJob.run(spark, base, out, cfg)

    def chunkHashes(): Map[(Int, Int), Seq[Long]] = chunkHashMap(out)
    val baseChunks = chunkHashes()

    // a disjoint delta (docIds 150..199 => urls disjoint from the base)
    val all200 = PagesGen.generate(spark, 200, partitions = 4).collect()
    val delta = spark.createDataset(all200.drop(150).toIndexedSeq)
    val rep1 = EncodeJob.append(spark, delta, out, cfg).collect()
    assert(rep1.nonEmpty && rep1.forall(_.status == "done"))

    val afterAppend = chunkHashes()
    // every original chunk file is untouched, byte-for-byte
    baseChunks.foreach { case (k, h) =>
      assert(afterAppend(k) == h, s"append modified existing chunk $k")
    }
    assert(afterAppend.size > baseChunks.size, "append must add new chunks")

    // the union decodes bit-identically
    val union = base.collect() ++ delta.collect()
    val report = VerifyJob.run(spark, spark.createDataset(union.toIndexedSeq), out)
    assert(report.rows_decoded == 200 && report.mismatched_rows == 0 &&
      report.except_violations == 0, report)

    // re-appending the same delta is a no-op: no rows survive dedup,
    // no chunks added, no lineage rows added
    val rep2 = EncodeJob.append(spark, delta, out, cfg).collect()
    assert(rep2.isEmpty, "identical re-append must encode nothing")
    assert(chunkHashes() == afterAppend, "re-append must not touch chunk files")

    // an overlapping delta (docIds 180..219: 20 already stored, 20 new)
    val all220 = PagesGen.generate(spark, 220, partitions = 4).collect()
    val overlap = spark.createDataset(all220.drop(180).toIndexedSeq)
    val rep3 = EncodeJob.append(spark, overlap, out, cfg).collect()
    assert(rep3.map(_.n_rows).sum == 20, s"only the 20 new urls may encode: ${rep3.toSeq}")
    val union2 = union ++ all220.drop(200)
    val report2 = VerifyJob.run(spark, spark.createDataset(union2.toIndexedSeq), out)
    assert(report2.rows_decoded == 220 && report2.mismatched_rows == 0 &&
      report2.except_violations == 0, report2)
  }

  test("append: poisoned bootstrap dir recovers; intra-delta duplicates pick the newest row") {
    import spark.implicits._
    val out = tmpDir("appedge")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 16)
    val all = PagesGen.generate(spark, 40, partitions = 2).collect()

    // simulate a crash during the bootstrap write: chunks dir exists with
    // staging junk but no _SUCCESS — the redelivered batch must bootstrap,
    // not die on an unreadable parquet path
    val junk = new java.io.File(EncodeJob.chunksPath(out) + "/_temporary")
    junk.mkdirs()
    java.nio.file.Files.writeString(junk.toPath.resolve("leftover"), "staging junk")

    // the delta carries the same url TWICE (older + newer warc_ts): the
    // newer row must win deterministically
    val dup = all(7).copy(
      warc_ts = java.sql.Timestamp.from(all(7).warc_ts.toInstant.plusSeconds(3600)),
      text = "newer content wins")
    val delta = spark.createDataset((all.toSeq :+ dup).toIndexedSeq)
    val rep = EncodeJob.append(spark, delta, out, cfg).collect()
    assert(rep.map(_.n_rows).sum == 40, s"intra-delta dup must collapse: ${rep.toSeq}")

    val decoded = DecodeJob.run(spark, out).collect()
    assert(decoded.length == 40 && decoded.map(_.url).distinct.length == 40)
    val winner = decoded.find(_.url == all(7).url).get
    assert(winner.text == "newer content wins" && winner.warc_ts == dup.warc_ts)

    // re-delivering the same (duplicated) delta is still a no-op
    assert(EncodeJob.append(spark, delta, out, cfg).collect().isEmpty)
  }

  test("compact: append fragmentation is rewritten away; decode bit-identical") {
    import spark.implicits._
    val out = tmpDir("compact")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 16)
    val all = PagesGen.generate(spark, 130, partitions = 2).collect()

    EncodeJob.run(spark, spark.createDataset(all.take(100).toIndexedSeq), out, cfg)
    // three tiny appends fragment the partitions with tail chunks
    Seq(100 until 110, 110 until 120, 120 until 130).foreach { r =>
      EncodeJob.append(spark, spark.createDataset(r.map(all).toIndexedSeq), out, cfg)
    }
    def chunkGroups(): Long =
      spark.read.parquet(EncodeJob.chunksPath(out)).count()
    def decodedSorted(): Seq[(String, String, java.sql.Timestamp)] =
      DecodeJob.run(spark, out).collect().map(p => (p.url, p.text, p.warc_ts)).sortBy(_._1).toSeq

    val before = decodedSorted()
    val fragmented = chunkGroups()
    assert(before.length == 130)

    val rep = EncodeJob.compact(spark, out, cfg).collect()
    assert(rep.map(_.n_rows).sum == 130)
    val compacted = chunkGroups()
    assert(compacted < fragmented,
      s"compaction must reduce chunk count: $fragmented -> $compacted")
    // rows bit-identical; ranges consistent for lookups; lineage replaced
    assert(decodedSorted() == before)
    val hit = DecodeJob.lookupUrls(spark, out, Seq(all(105).url)).collect()
    assert(hit.length == 1 && hit.head.text == all(105).text)
    val lineage = spark.read.parquet(EncodeJob.lineagePath(out))
      .as[LineageRecord].collect()
    assert(lineage.length == lineage.map(_.part_id).distinct.length,
      "compaction must replace, not append, lineage rows")
    assert(lineage.map(_.n_rows).sum == 130)
    // appending an already-present slice is STILL a no-op after compaction
    assert(EncodeJob.append(spark,
      spark.createDataset(all.slice(100, 120).toIndexedSeq), out, cfg).collect().isEmpty)
  }

  test("compact emits byte-identical chunks to a fresh encode, with no Exchange in its plan") {
    import spark.implicits._
    val out = tmpDir("compact_ident")
    val fresh = tmpDir("compact_fresh")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 16)
    val all = PagesGen.generate(spark, 130, partitions = 2).collect()

    EncodeJob.run(spark, spark.createDataset(all.take(100).toIndexedSeq), out, cfg)
    Seq(100 until 110, 110 until 120, 120 until 130).foreach { r =>
      EncodeJob.append(spark, spark.createDataset(r.map(all).toIndexedSeq), out, cfg)
    }

    // the pipeline plan is pure narrow: one partition-pruned chunks scan
    // coalesced into one task, in-partition sort, kernels — no Exchange
    // node anywhere, and one scan however many partitions are selected
    val executed = EncodeJob.compactedChunkStream(spark, out, cfg, Seq(0, 1), _ => ())
      .queryExecution.executedPlan
    val plan = executed.toString
    assert(!plan.contains("Exchange"), s"compaction plan must not shuffle:\n$plan")
    assert(AqePlans.collect(executed) { case s: FileSourceScanExec => s }.size == 1,
      s"the selected partitions must be read by one chunks scan:\n$plan")

    EncodeJob.compact(spark, out, cfg)
    // body reuse (no BWT re-run) must reproduce EXACTLY what a fresh
    // bootstrap encode of the same 130 pages produces — per-chunk,
    // per-column payload hashes equal, not just decode equality
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), fresh, cfg)
    assert(chunkHashMap(out) == chunkHashMap(fresh),
      "compacted chunks must be byte-identical to a fresh encode")
    // and the rewrite's staged kernel lineage matches the fresh run's
    val a = spark.read.parquet(EncodeJob.lineagePath(out))
      .as[LineageRecord].collect().sortBy(_.part_id).toSeq
    val b = spark.read.parquet(EncodeJob.lineagePath(fresh))
      .as[LineageRecord].collect().sortBy(_.part_id).toSeq
    assert(a == b, s"compacted lineage diverged:\n$a\nvs\n$b")
  }

  test("fragmentation-aware compaction rewrites only the fragmented partitions") {
    import spark.implicits._
    val out = tmpDir("compact_frag")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val all = PagesGen.generate(spark, 240, partitions = 4).collect()
    val pidOf: Map[String, Int] = spark.createDataset(all.toIndexedSeq)
      .withColumn("part_id", EncodeJob.partIdCol(cfg))
      .select($"url", $"part_id").as[(String, Int)].collect().toMap
    val targetPid = all.groupBy(p => pidOf(p.url)).maxBy(_._2.length)._1
    val (target, rest) = all.partition(p => pidOf(p.url) == targetPid)
    assert(target.length >= 12, s"need enough rows in part $targetPid")

    // bootstrap everything except 9 target-part rows; three tiny appends
    // fragment ONLY the target partition
    val held = target.takeRight(9)
    EncodeJob.run(spark,
      spark.createDataset((rest ++ target.dropRight(9)).toIndexedSeq), out, cfg)
    held.grouped(3).foreach { g =>
      EncodeJob.append(spark, spark.createDataset(g.toIndexedSeq), out, cfg)
    }

    val frag = EncodeJob.fragmentedPartIds(spark, out, cfg, slackChunks = 0)
    assert(frag == Seq(targetPid),
      s"only part $targetPid was fragmented, selection said $frag")

    def filesOf(pid: Int): Set[String] = {
      val d = new java.io.File(s"${EncodeJob.chunksPath(out)}/part_id=$pid")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => s"${f.getName}:${f.length}").toSet
    }
    val untouched = (0 until 4).filterNot(_ == targetPid)
    val before = untouched.map(p => p -> filesOf(p)).toMap
    val decodedBefore = DecodeJob.run(spark, out).collect().map(_.url).sorted.toSeq

    val rep = EncodeJob.compact(spark, out, cfg, partIds = Some(frag)).collect()
    assert(rep.map(_.part_id).toSeq == Seq(targetPid))
    untouched.foreach { p =>
      assert(filesOf(p) == before(p), s"partition $p must not be rewritten")
    }
    assert(DecodeJob.run(spark, out).collect().map(_.url).sorted.toSeq == decodedBefore)
    // selection is empty once compacted
    assert(EncodeJob.fragmentedPartIds(spark, out, cfg, slackChunks = 0).isEmpty)
  }

  test("interrupted compaction swap: readers fail fast, writers roll forward") {
    import spark.implicits._
    val out = tmpDir("compact_crash")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 16)
    val all = PagesGen.generate(spark, 80, partitions = 2).collect()
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), out, cfg)
    val before = DecodeJob.run(spark, out).collect()
      .map(p => (p.url, p.text)).sorted.toSeq

    // manufacture the crash window: staging fully committed (here: a copy
    // of the live partition dirs), _SWAP marker written, then "crash" after
    // one live dir was deleted but before its staged replacement renamed in
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(EncodeJob.compactTmpPath(out))
    (0 until 2).foreach { pid =>
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(EncodeJob.chunksPath(out), s"part_id=$pid"),
        fs, new org.apache.hadoop.fs.Path(tmp, s"part_id=$pid"), false, conf)
    }
    // a COMMITTED marker carries the `;` terminator sentinel (writeSwapMarker
    // renames it in atomically; a sentinel-less file is pre-commit junk)
    val marker = fs.create(new org.apache.hadoop.fs.Path(tmp, "_SWAP"), true)
    marker.write("0,1;".getBytes(UTF_8))
    marker.close()
    fs.delete(new org.apache.hadoop.fs.Path(EncodeJob.chunksPath(out), "part_id=0"), true)

    // a reader now sees a half-swapped table: it must refuse, not drop rows
    val ex = intercept[IllegalArgumentException](DecodeJob.run(spark, out).collect())
    assert(ex.getMessage.contains("interrupted compaction"))

    // any write entry point repairs first; append() here both rolls the
    // swap forward and then lands its delta
    val extra = PagesGen.generate(spark, 90, partitions = 2).collect().drop(80)
    EncodeJob.append(spark, spark.createDataset(extra.toIndexedSeq), out, cfg)
    assert(!fs.exists(tmp), "staging dir must be gone after roll-forward")
    val after = DecodeJob.run(spark, out).collect().map(p => (p.url, p.text)).sorted.toSeq
    assert(after == (before ++ extra.map(p => (p.url, p.text))).sorted.toSeq)
    // a marker of an older binary has no staged lineage: the rolled-forward
    // parts keep their existing rows, whose totals still count every row
    val lin = spark.read.parquet(EncodeJob.lineagePath(out)).as[LineageRecord].collect()
    assert(lin.map(_.n_rows).sum == after.length)

    // pre-marker staging junk (crash DURING staging) is inert: readers work
    fs.mkdirs(new org.apache.hadoop.fs.Path(tmp, "part_id=0"))
    assert(DecodeJob.run(spark, out).count() == after.length)
    EncodeJob.compact(spark, out, cfg) // and the next compact discards it
    assert(!fs.exists(tmp))
  }

  test("a crash while rolling an older binary's marker forward keeps every lineage row") {
    import spark.implicits._
    val out = tmpDir("old_marker_crash")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 16)
    EncodeJob.run(spark, PagesGen.generate(spark, 80, partitions = 2), out, cfg)
    val part0Rows = spark.read.parquet(EncodeJob.lineagePath(out)).as[LineageRecord]
      .collect().filter(_.part_id == 0).map(_.n_rows).sum
    assert(part0Rows > 0)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(EncodeJob.compactTmpPath(out))
    // an older binary's committed marker: part 0 swapped in from a staged
    // copy, part 1 dropped; no staged lineage table
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(EncodeJob.chunksPath(out), "part_id=0"),
      fs, new org.apache.hadoop.fs.Path(tmp, "part_id=0"), false, conf)
    val marker = fs.create(new org.apache.hadoop.fs.Path(tmp, "_SWAP"), true)
    marker.write("0,1:drop;".getBytes(UTF_8))
    marker.close()

    // crash inside the roll-forward's staging write, before its rename
    final class Crash extends RuntimeException("injected crash")
    DriverParquet.stepHook = name => if (name == "written") throw new Crash
    try intercept[Crash](EncodeJob.completePendingCompactSwap(spark, out))
    finally DriverParquet.stepHook = _ => ()
    assert(fs.exists(tmp), "the marker must survive the crash")
    val next = new org.apache.hadoop.fs.Path(tmp, "_lineage_next")
    assert(fs.exists(next) && DriverParquet.dataFiles(conf, next).isEmpty,
      "the crash must leave the staged lineage directory without a committed file")

    assert(EncodeJob.completePendingCompactSwap(spark, out))
    assert(!fs.exists(tmp))
    val lin = spark.read.parquet(EncodeJob.lineagePath(out)).as[LineageRecord].collect()
    val byPart = lin.groupBy(_.part_id)
    assert(byPart.keySet == Set(0, 1), s"lineage rows lost: ${lin.toSeq}")
    assert(byPart(0).map(_.n_rows).sum == part0Rows)
    assert(byPart(1).map(_.n_rows).sum == 0L, "part 1's drop tombstone")
    assert(EncodeJob.donePartIds(spark, out) == Set(0, 1),
      "the tombstone keeps a dropped part done, so a resume-style run() does not re-encode it")
  }

  test("crashed lineage swap rolls forward; compact re-slices with the STORED chunkRows") {
    import spark.implicits._
    val out = tmpDir("lineage_swap")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val all = PagesGen.generate(spark, 160, partitions = 4).collect()
    EncodeJob.run(spark, spark.createDataset(all.take(120).toIndexedSeq), out, cfg)
    // two small appends: each adds an undersized tail chunk per partition,
    // so actual chunks exceed the ideal count and fragmentation is real
    all.drop(120).grouped(20).foreach { g =>
      EncodeJob.append(spark, spark.createDataset(g.toIndexedSeq), out, cfg)
    }
    val fullLineageRows = spark.read.parquet(EncodeJob.lineagePath(out)).count()

    // simulate a crash inside an older binary's lineage replace, in its
    // delete->rename window: _lineage is gone, the complete _swap_tmp is
    // the only copy
    val conf = spark.sparkContext.hadoopConfiguration
    val lp = new org.apache.hadoop.fs.Path(EncodeJob.lineagePath(out))
    val fs = lp.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(EncodeJob.lineagePath(out) + "_swap_tmp")
    assert(fs.rename(lp, tmp))

    // a partial compact must NOT lose the other partitions' lineage rows
    // (before the roll-forward fix, kept = empty and only the compacted
    // partition's row survived)
    val frag = EncodeJob.fragmentedPartIds(spark, out, cfg, slackChunks = 0)
    assert(frag.nonEmpty)
    val target = frag.head
    EncodeJob.compact(spark, out, cfg, partIds = Some(Seq(target)))
    val lin = spark.read.parquet(EncodeJob.lineagePath(out)).as[LineageRecord].collect()
    // the compacted part's rows collapse to one; every OTHER part's rows
    // must survive the crashed swap (before the roll-forward fix, kept was
    // empty and only the compacted partition's row remained)
    assert(lin.count(_.part_id == target) == 1)
    assert(lin.map(_.part_id).distinct.sorted.toSeq == Seq(0, 1, 2, 3),
      s"non-compacted partitions' lineage lost: ${lin.toSeq}")
    // the untouched parts' append-generation rows survive the crashed swap
    // FOLDED (one row per part, sums preserved — before the roll-forward
    // fix the kept set was empty and the sum collapsed to the compacted
    // partition's rows alone)
    assert(lin.map(_.n_rows).sum == 160,
      s"rows of untouched parts must survive the crashed swap " +
        s"(full table had $fullLineageRows lineage rows pre-crash)")
    assert(lin.length == 4, s"folding keeps lineage at one row per part: ${lin.toSeq}")

    // compacting with a DIVERGENT cfg.chunkRows must keep the stored
    // layout (meta.chunkRows), or the fragmentation metric would read the
    // whole table as fragmented forever
    EncodeJob.compact(spark, out, cfg.copy(chunkRows = 4))
    assert(EncodeJob.fragmentedPartIds(spark, out, cfg, slackChunks = 0).isEmpty,
      "compact must re-slice with the stored chunkRows, not the caller's")
    assert(DecodeJob.run(spark, out).count() == 160)
  }

  test("delete: urls removed partition-locally; untouched partitions keep their files") {
    import spark.implicits._
    val out = tmpDir("delete")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val all = PagesGen.generate(spark, 160, partitions = 4).collect()
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), out, cfg)
    val pidOf: Map[String, Int] = spark.createDataset(all.toIndexedSeq)
      .withColumn("part_id", EncodeJob.partIdCol(cfg))
      .select($"url", $"part_id").as[(String, Int)].collect().toMap

    // delete a handful of urls all living in ONE home partition
    val targetPid = all.groupBy(p => pidOf(p.url)).maxBy(_._2.length)._1
    val doomed = all.filter(p => pidOf(p.url) == targetPid).take(5).map(_.url).toSeq
    def filesOf(pid: Int): Set[String] = {
      val d = new java.io.File(s"${EncodeJob.chunksPath(out)}/part_id=$pid")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => s"${f.getName}:${f.length}").toSet
    }
    val untouched = (0 until 4).filterNot(_ == targetPid)
    val before = untouched.map(p => p -> filesOf(p)).toMap

    val rep = EncodeJob.delete(spark, out, doomed, cfg).collect()
    assert(rep.map(_.part_id).toSeq == Seq(targetPid))
    untouched.foreach(p => assert(filesOf(p) == before(p), s"partition $p must not be rewritten"))
    val decoded = DecodeJob.run(spark, out).collect()
    assert(decoded.length == 155)
    assert(doomed.forall(u => !decoded.exists(_.url == u)))
    // remaining content bit-identical
    val expect = all.filterNot(p => doomed.contains(p.url)).map(p => (p.url, p.text)).sorted.toSeq
    assert(decoded.map(p => (p.url, p.text)).sorted.toSeq == expect)
    // lineage totals reflect the removal
    val lin = spark.read.parquet(EncodeJob.lineagePath(out)).as[LineageRecord].collect()
    assert(lin.map(_.n_rows).sum == 155)
    // deleting absent urls is a no-op that rewrites nothing
    assert(EncodeJob.delete(spark, out, doomed, cfg).collect().isEmpty)
    // deleted urls can be re-ingested (absent, not banned)
    EncodeJob.append(spark,
      spark.createDataset(all.filter(p => doomed.contains(p.url)).toIndexedSeq), out, cfg)
    assert(DecodeJob.run(spark, out).count() == 160)
  }

  test("delete: emptying a partition drops its dir; a zero-row tombstone blocks resume resurrection") {
    import spark.implicits._
    val out = tmpDir("delete_all")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val all = PagesGen.generate(spark, 120, partitions = 4).collect()
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), out, cfg)
    val pidOf: Map[String, Int] = spark.createDataset(all.toIndexedSeq)
      .withColumn("part_id", EncodeJob.partIdCol(cfg))
      .select($"url", $"part_id").as[(String, Int)].collect().toMap
    val targetPid = all.groupBy(p => pidOf(p.url)).minBy(_._2.length)._1
    val doomed = all.filter(p => pidOf(p.url) == targetPid).map(_.url).toSeq

    EncodeJob.delete(spark, out, doomed, cfg)
    assert(!new java.io.File(s"${EncodeJob.chunksPath(out)}/part_id=$targetPid").exists(),
      "an emptied partition's directory must be removed")
    val lin = spark.read.parquet(EncodeJob.lineagePath(out)).as[LineageRecord].collect()
    val tomb = lin.filter(_.part_id == targetPid)
    assert(tomb.length == 1 && tomb.head.n_rows == 0 && tomb.head.status == "done",
      s"an emptied partition must keep a zero-row tombstone, got ${tomb.toSeq}")
    assert(DecodeJob.run(spark, out).count() == 120 - doomed.length)

    // the tombstone makes takedowns durable against resume: re-running the
    // bootstrap with the ORIGINAL input must NOT resurrect the deleted urls
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), out, cfg)
    assert(DecodeJob.run(spark, out).count() == 120 - doomed.length,
      "resume must not re-encode an intentionally-emptied partition")
  }

  test("delete of EVERY url leaves a readable empty table that can bootstrap again") {
    import spark.implicits._
    val out = tmpDir("delete_wipe")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 16)
    val all = PagesGen.generate(spark, 60, partitions = 2).collect()
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), out, cfg)

    // full wipe: no pending swap left behind, readers see an EMPTY table
    // (not a schema-inference crash), lineage is all tombstones
    EncodeJob.delete(spark, out, all.map(_.url).toSeq, cfg)
    assert(DecodeJob.run(spark, out).count() == 0)
    assert(DecodeJob.lookupUrls(spark, out, Seq(all.head.url)).count() == 0)
    assert(DecodeJob.decodeColumn(spark, out, "text").count() == 0)
    assert(DecodeJob.decodeProjected(spark, out, Seq("text")).count() == 0)
    val lin = spark.read.parquet(EncodeJob.lineagePath(out)).as[LineageRecord].collect()
    assert(lin.nonEmpty && lin.forall(r => r.n_rows == 0 && r.status == "done"))

    // tombstones are STRICT: a resume-style re-run of the ORIGINAL input
    // must not resurrect anything, even when every partition was wiped
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), out, cfg)
    assert(DecodeJob.run(spark, out).count() == 0,
      "resume must not resurrect a fully-wiped table")

    // verify can confirm the wipe (empty source + empty table: no NPE)
    val rep = VerifyJob.run(spark,
      spark.emptyDataset(org.apache.spark.sql.Encoders.product[Page]), out)
    assert(rep.rows_decoded == 0 && rep.mismatched_rows == 0 && rep.size_gate_ok)

    // even with _meta lost (legacy / writeMeta crash window), new data
    // must land — the tombstones must not misroute the delta into run()'s
    // done-skip where it would silently vanish
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(EncodeJob.metaPath(out)), true)
    EncodeJob.append(spark, spark.createDataset(all.take(30).toIndexedSeq), out, cfg)
    assert(DecodeJob.run(spark, out).count() == 30,
      "append into a wiped meta-less table must not lose the delta")
  }

  test("upsert: delta wins over stored rows; re-running the same upsert is stable") {
    import spark.implicits._
    val out = tmpDir("upsert")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val all = PagesGen.generate(spark, 120, partitions = 4).collect()
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), out, cfg)

    // plain append of a re-crawl is dropped (insert-only)...
    val recrawl = all.take(10).map(p => p.copy(
      warc_ts = java.sql.Timestamp.from(p.warc_ts.toInstant.plusSeconds(3600)),
      text = "refreshed " + p.text))
    assert(EncodeJob.append(spark, spark.createDataset(recrawl.toIndexedSeq), out, cfg)
      .collect().isEmpty)
    assert(!DecodeJob.run(spark, out).collect().exists(_.text.startsWith("refreshed ")))

    // ...upsert makes the newer rows win
    EncodeJob.upsert(spark, spark.createDataset(recrawl.toIndexedSeq), out, cfg)
    val decoded = DecodeJob.run(spark, out).collect()
    assert(decoded.length == 120)
    recrawl.foreach { r =>
      val d = decoded.find(_.url == r.url).get
      assert(d.text == r.text && d.warc_ts == r.warc_ts, s"upsert must win for ${r.url}")
    }
    // idempotent on redelivery: same upsert again -> same table content
    EncodeJob.upsert(spark, spark.createDataset(recrawl.toIndexedSeq), out, cfg)
    val again = DecodeJob.run(spark, out).collect().map(p => (p.url, p.text)).sorted.toSeq
    assert(again == decoded.map(p => (p.url, p.text)).sorted.toSeq)
    // untouched rows still bit-identical
    val keptExpect = all.drop(10).map(p => (p.url, p.text)).sorted.toSeq
    assert(again.filterNot(t => recrawl.exists(_.url == t._1)) == keptExpect)
  }

  test("presence check joins on the part_id equi-key (hash join, not nested-loop)") {
    val out = tmpDir("presence_plan")
    val cfg = EncodeConfig(numPartitions = 3, chunkRows = 32)
    EncodeJob.run(spark, PagesGen.generate(spark, 120, partitions = 3), out, cfg)
    val urls = DecodeJob.run(spark, out).select("url").limit(30)
      .collect().map(_.getString(0)).toSeq
    val meta = EncodeJob.readMeta(spark, out)
    assert(meta.isDefined)
    // with stored meta every target carries its home pid: part_id must be
    // extracted as an EQUI key (each chunk row probes only its partition's
    // urls — O(urls/P)); a nested-loop join here scans the WHOLE url set
    // per chunk row, a P-fold loss at delete-batch scale
    val (covering, _) = EncodeJob.presenceScan(spark, out, urls, meta)
    val plan = covering.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi-join on part_id, got:\n$plan")
    assert(!plan.contains("NestedLoop"), s"presence check degraded to nested-loop:\n$plan")
    // pre-meta fallback keeps working (range-only: nested-loop is all there is)
    val (coveringNoMeta, _) = EncodeJob.presenceScan(spark, out, urls, None)
    assert(coveringNoMeta.count() > 0)
  }

  test("lookupUrls rejects url sets beyond the point-read cap") {
    val out = tmpDir("lookup_cap")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 32)
    // 200 stored urls -> the hit-path lookup below spans multiple scan
    // batches, and chunkRows=32 makes single chunks cover urls from two
    // batches (the double-decode dedup edge)
    EncodeJob.run(spark, PagesGen.generate(spark, 200, partitions = 2), out, cfg)
    val urls = (0 until DecodeJob.MaxLookupUrls + 1).map(i => s"https://h$i.example/")
    val ex = intercept[IllegalArgumentException](DecodeJob.lookupUrls(spark, out, urls))
    assert(ex.getMessage.contains("decodeUrlRange"))
    // at the cap it still works — and stays whole-stage-codegen'd: with
    // fallback disabled, a single 256-url OR predicate would blow the JVM's
    // 64 KB generated-method limit and THROW here; the batched scans must not
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      assert(DecodeJob.lookupUrls(spark, out, urls.take(DecodeJob.MaxLookupUrls)).count() == 0)
      // hit path too (stored urls), not just the empty result
      val stored = DecodeJob.run(spark, out).select("url").limit(200)
        .collect().map(_.getString(0)).toSeq
      assert(DecodeJob.lookupUrls(spark, out, stored).count() == stored.distinct.size)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("an uncommitted _meta dir reads as absent and is rewritten, not wedged") {
    import spark.implicits._
    val out = tmpDir("meta_crash")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 32)
    val pages = PagesGen.generate(spark, 40, partitions = 2)
    EncodeJob.run(spark, pages, out, cfg)
    assert(EncodeJob.readMeta(spark, out).nonEmpty)

    // simulate a crash inside writeMeta's delete-then-rewrite window
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(EncodeJob.metaPath(out)), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(EncodeJob.metaPath(out)))
    assert(EncodeJob.readMeta(spark, out).isEmpty, "empty _meta must read as absent")
    // reads survive (range-only pruning), writes heal the meta table
    assert(DecodeJob.lookupUrls(spark, out, Seq("https://nope.example/")).count() == 0)
    EncodeJob.run(spark, pages, out, cfg)
    assert(EncodeJob.readMeta(spark, out).contains(cfg))
  }

  test("decodeProjected: only requested leaves read; values exact; lookup works after append") {
    import spark.implicits._
    val out = tmpDir("projected")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 32)
    val all = PagesGen.generate(spark, 120, partitions = 4).collect()

    // bootstrap an incrementally-built table purely through append
    assert(EncodeJob.append(spark, spark.createDataset(all.take(80).toIndexedSeq), out, cfg)
      .collect().nonEmpty)
    assert(EncodeJob.append(spark, spark.createDataset(all.drop(80).toIndexedSeq), out, cfg)
      .collect().nonEmpty)

    // projected decode: exact url->text map, html leaf absent from the
    // actual parquet scan's ReadSchema (asserted on projectedScan, the scan
    // without the decode operators above it)
    val proj = DecodeJob.decodeProjected(spark, out, Seq("text", "warc_ts"))
    import org.apache.spark.sql.types._
    assert(proj.schema == StructType(Seq(
      StructField("url", StringType, nullable = false),
      StructField("warc_ts_us", LongType, nullable = false),
      StructField("text", StringType, nullable = true))))
    val plan = proj.queryExecution.executedPlan.toString()
    assert(plan.contains("FileScan") && !plan.contains("html"), plan)
    val scan = DecodeJob.projectedScan(spark, out, Seq("text", "warc_ts"))
      .queryExecution.executedPlan.toString()
    assert(scan.contains("ReadSchema") && !scan.contains("html"),
      s"html leaf must be pruned out of the parquet scan:\n$scan")
    val got = proj.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got.size == 120)
    all.foreach { p =>
      val (ts, text) = got(p.url)
      assert(text == p.text && ts == Math.floorDiv(p.warc_ts.getTime, 1000L) * 1000000L +
        p.warc_ts.getNanos / 1000L)
    }

    // point lookup spans chunks from BOTH append generations
    val wanted = Seq(all(10), all(100))
    val looked = DecodeJob.lookupUrls(spark, out, wanted.map(_.url)).collect()
      .map(p => p.url -> p.text).toMap
    assert(looked == wanted.map(p => p.url -> p.text).toMap)
  }

  test("writer lease: a second concurrent writer fails loudly; orphans break manually or by staleness") {
    import spark.implicits._
    val out = tmpDir("lock")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 32)
    val all = PagesGen.generate(spark, 40, partitions = 2).collect()
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), out, cfg)

    // writer A holds the lease on another thread; writer B's append must
    // fail with the named error instead of racing chunk-id allocation
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() =>
      EncodeJob.withWriterLock(spark, out) { entered.countDown(); release.await() })
    a.start()
    entered.await()
    try {
      val ex = intercept[IllegalStateException](
        EncodeJob.append(spark, spark.createDataset(all.take(5).toIndexedSeq), out, cfg))
      assert(ex.getMessage.contains("another writer holds the lease"))
    } finally { release.countDown(); a.join() }

    // lease released -> writes work again (delete takes + releases it too)
    assert(EncodeJob.delete(spark, out, Seq(all.head.url), cfg).collect().nonEmpty)

    // an orphaned FRESH lock (crashed writer) blocks until broken by hand
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val lock = EncodeJob.writerLockPath(out)
    val os = fs.create(lock, false); os.write("app=dead".getBytes(UTF_8)); os.close()
    intercept[IllegalStateException](EncodeJob.compact(spark, out, cfg))
    // the denied acquisition must not leak this thread's in-JVM entry: a
    // retry from the SAME thread must fail the same way, not silently
    // bypass the FS lock via the reentrant fast path
    intercept[IllegalStateException](EncodeJob.compact(spark, out, cfg))
    assert(EncodeJob.breakWriterLock(spark, out))
    EncodeJob.compact(spark, out, cfg)

    // a STALE orphan self-heals on the next acquisition
    val os2 = fs.create(lock, false); os2.write("app=dead".getBytes(UTF_8)); os2.close()
    fs.setTimes(lock, System.currentTimeMillis() - EncodeJob.StaleWriterLockMs - 60000, -1)
    EncodeJob.compact(spark, out, cfg) // auto-breaks and proceeds
    assert(!fs.exists(lock), "the lease must be released after the write")
    assert(DecodeJob.run(spark, out).count() == 39)

    // release never deletes a lock that is not provably OURS: a readable
    // file with no uuid line (foreign fence / partially-visible create)
    // must survive the release, unlike a missing or transiently-unreadable
    // one
    EncodeJob.withWriterLock(spark, out) {
      fs.delete(lock, false)
      val fo = fs.create(lock, false); fo.write("app=fence".getBytes(UTF_8)); fo.close()
    }
    assert(fs.exists(lock), "a uuid-less foreign lock must survive another writer's release")
    assert(EncodeJob.breakWriterLock(spark, out))

    // an AGED aside-file orphaned by a breaker crash (rename done, delete
    // not) is swept by the next successful acquisition; a FRESH one may be
    // a contender's in-flight capture and must survive
    val orphan = new org.apache.hadoop.fs.Path(out, "_writer.lock.stale.deadbeef")
    val os3 = fs.create(orphan, false); os3.write("app=dead".getBytes(UTF_8)); os3.close()
    EncodeJob.compact(spark, out, cfg)
    assert(fs.exists(orphan), "a fresh aside file (possible in-flight capture) must survive the sweep")
    fs.setTimes(orphan, System.currentTimeMillis() - EncodeJob.StaleWriterLockMs - 60000, -1)
    EncodeJob.compact(spark, out, cfg)
    assert(!fs.exists(orphan), "an aged orphaned aside file must be swept")
  }

  test("describe reports table health without locking, even mid-swap or under a held lease") {
    import spark.implicits._
    val out = tmpDir("health")
    // absent table -> all zeros, no flags
    assert(EncodeJob.describe(spark, out).head() ==
      TableHealth(0, 0, 0, 0, 0, 0, 0, false, false))

    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 8)
    val all = PagesGen.generate(spark, 48, partitions = 2).collect()
    EncodeJob.run(spark, spark.createDataset(all.take(24).toIndexedSeq), out, cfg)
    (0 until 3).foreach { i =>
      EncodeJob.append(spark,
        spark.createDataset(all.slice(24 + 8 * i, 32 + 8 * i).toIndexedSeq), out, cfg)
    }
    val mid = EncodeJob.describe(spark, out).head()
    assert(mid.n_rows == 48 && mid.n_partitions == 2 && mid.chunk_rows == 8)
    assert(mid.n_parts_live == 2)
    assert(mid.fragmented_parts == EncodeJob.fragmentedPartIds(spark, out, cfg).length,
      "describe must agree with the compaction selector")
    // ... at EVERY slack, not just the default (shared predicate)
    assert(EncodeJob.describe(spark, out, cfg, slackChunks = 0).head().fragmented_parts ==
      EncodeJob.fragmentedPartIds(spark, out, cfg, slackChunks = 0).length)
    assert(!mid.pending_swap && !mid.writer_lease_held)

    // health stays readable while a writer holds the lease and while a
    // swap is pending — exactly the states every other reader refuses
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val lock = EncodeJob.writerLockPath(out)
    val osL = fs.create(lock, false); osL.write("app=x".getBytes(UTF_8)); osL.close()
    assert(EncodeJob.describe(spark, out).head().writer_lease_held)
    fs.delete(lock, false)
    val tmp = new org.apache.hadoop.fs.Path(EncodeJob.compactTmpPath(out))
    fs.mkdirs(tmp)
    val mk = fs.create(new org.apache.hadoop.fs.Path(tmp, "_SWAP"), true)
    mk.write("0;".getBytes(UTF_8)); mk.close()
    intercept[IllegalArgumentException](DecodeJob.run(spark, out).count())
    assert(EncodeJob.describe(spark, out).head().pending_swap)
    fs.delete(tmp, true)

    // compaction quiesces the layout: same rows, fewer (or equal) chunks,
    // zero fragmentation
    EncodeJob.compact(spark, out, cfg)
    val fin = EncodeJob.describe(spark, out).head()
    assert(fin.n_rows == 48 && fin.fragmented_parts == 0 && !fin.pending_swap)
    assert(fin.n_chunks <= mid.n_chunks)
  }

  test("upsert is per-url atomic: old until the swap, new right after; a crash at the marker rolls forward") {
    import spark.implicits._
    val out = tmpDir("upsert_atomic")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val all = PagesGen.generate(spark, 120, partitions = 4).collect()
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), out, cfg)
    def bump(p: Page, v: String) = p.copy(
      warc_ts = java.sql.Timestamp.from(p.warc_ts.toInstant.plusSeconds(3600)),
      text = s"$v ${p.text}")
    val refreshed = all.take(8).map(bump(_, "v2"))
    val oldText = all.take(8).map(p => p.url -> p.text).toMap

    // read the table through the PUBLIC read path at each commit phase
    val seen = scala.collection.mutable.Map.empty[String, Map[String, String]]
    EncodeJob.upsertPhaseHook = {
      case ph @ ("staged" | "swapped") =>
        seen(ph) = DecodeJob.lookupUrls(spark, out, refreshed.map(_.url).toSeq)
          .collect().map(p => p.url -> p.text).toMap
      case _ => ()
    }
    try EncodeJob.upsert(spark, spark.createDataset(refreshed.toIndexedSeq), out, cfg)
    finally EncodeJob.upsertPhaseHook = _ => ()
    assert(seen("staged") == oldText,
      "before the swap commit a reader must see the OLD versions (never absent)")
    assert(seen("swapped") == refreshed.map(p => p.url -> p.text).toMap,
      "right after the swap a reader must see the NEW versions")
    // the rewrite folds the delta INTO the re-slice: upsert leaves its
    // partitions perfectly laid out, not fragmented with tail chunks
    assert(EncodeJob.fragmentedPartIds(spark, out, cfg, slackChunks = 0).isEmpty,
      "upsert must defragment the partitions it touches")

    // crash right after the swap intent is recorded: readers fail fast,
    // the roll-forward lands the new rows, nothing is ever 'neither'
    val refreshed2 = all.slice(20, 26).map(bump(_, "v3"))
    EncodeJob.upsertPhaseHook =
      ph => if (ph == "marked") throw new RuntimeException("injected crash at marker")
    try intercept[RuntimeException](
      EncodeJob.upsert(spark, spark.createDataset(refreshed2.toIndexedSeq), out, cfg))
    finally EncodeJob.upsertPhaseHook = _ => ()
    intercept[IllegalArgumentException](DecodeJob.run(spark, out))
    assert(EncodeJob.completePendingCompactSwap(spark, out))
    // the roll-forward commits the staged kernel lineage: every part's
    // `_lineage` describes its live chunks
    assert(LineageOracle.folded(spark, out) == LineageOracle.fromChunks(spark, out))
    val after = DecodeJob.run(spark, out).collect().map(p => p.url -> p.text).toMap
    assert(after.size == 120)
    refreshed2.foreach(r => assert(after(r.url) == r.text,
      s"rolled-forward upsert must show the new version of ${r.url}"))
    // re-running the same upsert over the repaired table is a stable no-op
    EncodeJob.upsert(spark, spark.createDataset(refreshed2.toIndexedSeq), out, cfg)
    assert(DecodeJob.run(spark, out).count() == 120)
  }

  test("upsert's rewrite is byte-identical to a fresh encode of the final rows; plan exchange-free; pre-marker crash is inert") {
    import spark.implicits._
    val out = tmpDir("upsert_ident")
    val fresh = tmpDir("upsert_fresh")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 16)
    val all = PagesGen.generate(spark, 130, partitions = 2).collect()
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), out, cfg)
    def bump(p: Page) = p.copy(
      warc_ts = java.sql.Timestamp.from(p.warc_ts.toInstant.plusSeconds(1800)),
      text = "fresh " + p.text)
    val delta = all.take(12).map(bump)
    // the delta refreshes both partitions, so a per-partition plan would
    // read the replacement rows more than once
    assert(spark.createDataset(delta.toIndexedSeq).select(EncodeJob.partIdCol(cfg))
      .distinct().count() == 2, "the delta must touch both partitions")

    // pin the plan of the staged rewrite itself — the query that writes
    // the staging dir, as it executed: one partition-pruned chunks scan
    // unioned with ONE scan of the persisted pre-encoded replacement rows,
    // coalesced into one task + in-partition sort + kernels. No node of
    // it, AQE stages included, may be a shuffle exchange. A plan-node
    // test, not a substring one: the persisted delta prints its cached
    // dedupe window, and a broadcast of the (url, home) pairs is allowed
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def rewritePlans = plans.toArray(Array.empty[SparkPlan]).toSeq
      .filter(_.toString.contains(EncodeJob.compactTmpPath(out)))
    spark.listenerManager.register(listener)
    try EncodeJob.upsert(spark, spark.createDataset(delta.toIndexedSeq), out, cfg)
    finally {
      // the listener bus delivers asynchronously: wait for the staged write
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (rewritePlans.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      spark.listenerManager.unregister(listener)
    }
    assert(rewritePlans.nonEmpty, "the staged write's plan was not seen")
    rewritePlans.foreach { plan =>
      assert(AqePlans.collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty,
        s"upsert's rewrite plan must not shuffle:\n$plan")
      assert(AqePlans.collect(plan) { case s: InMemoryTableScanExec => s }.nonEmpty,
        s"the replacement rows must come from the persisted pre-encoded rows:\n$plan")
      assert(AqePlans.collect(plan) { case s: InMemoryTableScanExec => s }.size == 1,
        s"the replacement rows must be scanned once, not once per partition:\n$plan")
    }

    // the staged re-slice must reproduce EXACTLY what a fresh bootstrap
    // of the final logical rows produces — per-chunk, per-column payload
    // hashes, not just decode equality (same pin as compact's)
    EncodeJob.run(spark,
      spark.createDataset((delta ++ all.drop(12)).toIndexedSeq), fresh, cfg)
    assert(chunkHashMap(out) == chunkHashMap(fresh),
      "post-upsert chunks must be byte-identical to a fresh encode of the final rows")
    val a = spark.read.parquet(EncodeJob.lineagePath(out))
      .as[LineageRecord].collect().sortBy(_.part_id).toSeq
    val b = spark.read.parquet(EncodeJob.lineagePath(fresh))
      .as[LineageRecord].collect().sortBy(_.part_id).toSeq
    assert(a == b, s"lineage diverged:\n$a\nvs\n$b")

    // a crash BEFORE the swap intent (staging fully written, no marker)
    // leaves the live table untouched and readers unblocked; the re-run
    // discards the stale staging and completes
    val delta2 = all.slice(30, 36).map(bump)
    EncodeJob.upsertPhaseHook =
      ph => if (ph == "staged") throw new RuntimeException("injected crash pre-marker")
    try intercept[RuntimeException](
      EncodeJob.upsert(spark, spark.createDataset(delta2.toIndexedSeq), out, cfg))
    finally EncodeJob.upsertPhaseHook = _ => ()
    val mid = DecodeJob.lookupUrls(spark, out, delta2.map(_.url).toSeq).collect()
      .map(p => p.url -> p.text).toMap
    assert(mid == all.slice(30, 36).map(p => p.url -> p.text).toMap,
      "pre-marker crash must leave the OLD versions live and readable")
    EncodeJob.upsert(spark, spark.createDataset(delta2.toIndexedSeq), out, cfg)
    val after = DecodeJob.lookupUrls(spark, out, delta2.map(_.url).toSeq).collect()
      .map(p => p.url -> p.text).toMap
    assert(after == delta2.map(p => p.url -> p.text).toMap)
  }

  test("upsert splits oversized deltas into bounded groups; the ceiling fails before any collect") {
    import spark.implicits._
    val out = tmpDir("upsert_groups")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val all = PagesGen.generate(spark, 60, partitions = 4).collect()
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), out, cfg)
    val refreshed = all.take(20).map(p => p.copy(
      warc_ts = java.sql.Timestamp.from(p.warc_ts.toInstant.plusSeconds(60)),
      text = "grp " + p.text))
    // brand-new urls alongside the refreshes: some groups take the
    // phase-3 APPEND path into partitions other groups already swapped,
    // which is exactly the absolute-vs-incremental record mix the
    // returned lineage must not be fooled by
    val novel = (0 until 12).map(i =>
      Page(s"https://grp-new.example/p$i", new java.sql.Timestamp(1000L * i),
        null, s"novel text $i", "en"))
    val delta = refreshed ++ novel
    // force the hash-group split path at spec scale (production: 100k)
    EncodeJob.upsertGroupSizeForTest = Some(4)
    val returned =
      try EncodeJob.upsert(spark, spark.createDataset(delta.toIndexedSeq), out, cfg)
        .collect().toSeq
      finally EncodeJob.upsertGroupSizeForTest = None
    val decoded = DecodeJob.run(spark, out).collect()
    assert(decoded.length == 72)
    delta.foreach(r =>
      assert(decoded.find(_.url == r.url).get.text == r.text, s"group upsert lost ${r.url}"))
    // the returned records are layout-final: one per touched partition,
    // row counts equal to what the chunk metadata actually holds (a
    // keep-last-record scheme would under-report a partition a later
    // group merely appended to after an earlier group's full rewrite)
    assert(returned.map(_.part_id).distinct.length == returned.length,
      "duplicate part ids in returned upsert lineage")
    val chunkRows = spark.read.parquet(EncodeJob.chunksPath(out))
      .groupBy($"part_id")
      .agg(org.apache.spark.sql.functions.sum($"n_rows").as("n"))
      .as[(Int, Long)].collect().toMap
    returned.foreach(r =>
      assert(r.n_rows == chunkRows(r.part_id),
        s"part ${r.part_id}: returned ${r.n_rows} rows, chunks hold ${chunkRows(r.part_id)}"))
    // and every other field too: the returned records describe the chunks
    assert(LineageOracle.of(returned) ==
      LineageOracle.fromChunks(spark, out).filter { case (pid, _) => returned.exists(_.part_id == pid) })

    // the ceiling is enforced via limit+count BEFORE the driver-side url
    // collect: a delta far past it fails loudly without being materialized
    EncodeJob.maxUpsertUrlsForTest = Some(8)
    try {
      val big = spark.range(100000).map(i => Page(s"https://x.example/$i",
        new java.sql.Timestamp(0L), null, "t", "en"))
      val ex = intercept[IllegalArgumentException](EncodeJob.upsert(spark, big, out, cfg))
      assert(ex.getMessage.contains("bounded at 8"))
    } finally EncodeJob.maxUpsertUrlsForTest = None
  }

  test("upsert on a pre-meta foreign-layout table homes replacements at the STORED partition (never absent mid-commit)") {
    import spark.implicits._
    val out = tmpDir("upsert_premeta")
    val writeCfg = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val all = PagesGen.generate(spark, 80, partitions = 4).collect()
    EncodeJob.run(spark, spark.createDataset(all.toIndexedSeq), out, writeCfg)
    // legacy table: stored meta lost, so home partitions are unknowable
    // from any cfg — only the stored location is authoritative
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(EncodeJob.metaPath(out)), true)
    // the caller's cfg computes DIFFERENT homes for most urls: before the
    // fix, a url whose cfg-home fell outside the stored-home set was
    // swapped away in phase 2 and only re-appended in phase 3 — a reader
    // (or crash) between the two saw it absent
    val callCfg = EncodeConfig(numPartitions = 7, chunkRows = 16)
    val refreshed = all.take(10).map(p => p.copy(
      warc_ts = java.sql.Timestamp.from(p.warc_ts.toInstant.plusSeconds(60)),
      text = "pm2 " + p.text))
    val seen = scala.collection.mutable.Map.empty[String, Map[String, String]]
    EncodeJob.upsertPhaseHook = {
      case ph @ "swapped" =>
        seen(ph) = DecodeJob.lookupUrls(spark, out, refreshed.map(_.url).toSeq)
          .collect().map(p => p.url -> p.text).toMap
      case _ => ()
    }
    try EncodeJob.upsert(spark, spark.createDataset(refreshed.toIndexedSeq), out, callCfg)
    finally EncodeJob.upsertPhaseHook = _ => ()
    assert(seen("swapped") == refreshed.map(p => p.url -> p.text).toMap,
      "every stored url must be PRESENT (new version) the moment the swap commits")
    val after = DecodeJob.run(spark, out).collect().map(p => p.url -> p.text).toMap
    assert(after.size == 80)
    refreshed.foreach(r => assert(after(r.url) == r.text))
  }

  test("writes to an existing table take the stored _meta layout, not the caller's cfg") {
    import spark.implicits._
    val stored = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val all = PagesGen.generate(spark, 200, partitions = 4).collect().toIndexedSeq
    val refreshed = all.take(6).map(p => p.copy(
      warc_ts = java.sql.Timestamp.from(p.warc_ts.toInstant.plusSeconds(60)), text = "v2 " + p.text))
    val doomed = all.slice(20, 26).map(_.url)
    def maxChunkRows(out: String) =
      spark.read.parquet(EncodeJob.chunksPath(out))
        .select(org.apache.spark.sql.functions.max($"n_rows")).first().getInt(0)
    def metaFiles(out: String) = DriverParquet.dataFiles(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(EncodeJob.metaPath(out))).map(f => (f.getPath.getName, f.getModificationTime))
    /** Writes a table with `stored`, then runs every later write and the
      * two layout readers with `cfg`; returns what the readers said. */
    def sequence(out: String, cfg: EncodeConfig): (Seq[Int], TableHealth) = {
      EncodeJob.run(spark, spark.createDataset(all.take(80)), out, stored)
      val meta = metaFiles(out)
      def check(step: String): Unit = {
        assert(maxChunkRows(out) <= stored.chunkRows, s"$step wrote a chunk above the stored chunkRows")
        assert(EncodeJob.readMeta(spark, out).contains(stored) && metaFiles(out) == meta,
          s"$step changed _meta")
      }
      EncodeJob.append(spark, spark.createDataset(all.slice(80, 160)), out, cfg)
      check("append")
      val frag = EncodeJob.fragmentedPartIds(spark, out, cfg, slackChunks = 0)
      val health = EncodeJob.describe(spark, out, cfg).head()
      EncodeJob.upsert(spark, spark.createDataset(refreshed ++ all.slice(160, 200)), out, cfg)
      check("upsert")
      EncodeJob.delete(spark, out, doomed, cfg)
      check("delete")
      EncodeJob.compact(spark, out, cfg)
      check("compact")
      (frag, health)
    }
    val (out, ref) = (tmpDir("stored_layout"), tmpDir("stored_layout_ref"))
    val got = sequence(out, EncodeConfig())
    val want = sequence(ref, stored)
    assert(got._1.nonEmpty && got == want)
    assert(got._2.n_partitions == 4 && got._2.chunk_rows == 16)
    def rows(o: String) = DecodeJob.run(spark, o).collect()
      .map(p => (p.url, p.warc_ts, p.html.toSeq, p.text, p.lang)).toSet
    val expected = (all.filterNot(p => refreshed.exists(_.url == p.url) || doomed.contains(p.url)) ++ refreshed)
      .map(p => (p.url, p.warc_ts, p.html.toSeq, p.text, p.lang)).toSet
    assert(rows(out) == expected && rows(ref) == expected)
    // the two tables are the same bytes, chunk for chunk
    assert(chunkHashMap(out) == chunkHashMap(ref))
  }

  test("a truncated swap marker is pre-commit junk, not a wedge") {
    val out = tmpDir("marker_trunc")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 32)
    EncodeJob.run(spark, PagesGen.generate(spark, 40, partitions = 2), out, cfg)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    // fabricate a crash mid-marker-write: a token cut inside ':drop' and
    // no terminator sentinel (the atomic rename of a real commit makes
    // this impossible post-fix, but a legacy/corrupt file must not wedge)
    fs.mkdirs(new org.apache.hadoop.fs.Path(EncodeJob.compactTmpPath(out)))
    val os = fs.create(
      new org.apache.hadoop.fs.Path(EncodeJob.compactTmpPath(out), "_SWAP"), true)
    os.write("5:dr".getBytes(UTF_8)); os.close()
    // readers fail fast on the pending marker...
    intercept[IllegalArgumentException](DecodeJob.run(spark, out))
    // ...and repair discards it as junk instead of misparsing '5:dr'
    assert(!EncodeJob.completePendingCompactSwap(spark, out))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(EncodeJob.compactTmpPath(out))))
    assert(DecodeJob.run(spark, out).count() == 40, "live table stays canonical")
  }

  test("lineage stays O(partitions): compaction folds superseded per-append rows") {
    import spark.implicits._
    val out = tmpDir("lineage_fold")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val all = PagesGen.generate(spark, 200, partitions = 4).collect()
    EncodeJob.run(spark, spark.createDataset(all.take(40).toIndexedSeq), out, cfg)
    (1 to 8).foreach { k =>
      EncodeJob.append(spark,
        spark.createDataset(all.slice(40 + (k - 1) * 20, 40 + k * 20).toIndexedSeq), out, cfg)
    }
    val rowsBefore = spark.read.parquet(EncodeJob.lineagePath(out)).count()
    assert(rowsBefore > 4, s"appends must have accumulated per-batch lineage rows: $rowsBefore")

    // compacting even ONE partition folds every OTHER part's superseded
    // rows too (the whole lineage table is rewritten in that pass)
    val frag = EncodeJob.fragmentedPartIds(spark, out, cfg, slackChunks = 0)
    assert(frag.nonEmpty, "eight appends must fragment something")
    EncodeJob.compact(spark, out, cfg, partIds = Some(frag.take(1)))
    val lin = spark.read.parquet(EncodeJob.lineagePath(out)).as[LineageRecord].collect()
    assert(lin.map(_.part_id).distinct.length == lin.length,
      s"exactly one folded lineage row per partition, got ${lin.toSeq}")
    assert(lin.map(_.n_rows).sum == 200)
    assert(lin.forall(r => r.status == "done" && r.codecs.nonEmpty))
    // folding is metrics-preserving: resume bookkeeping and decode intact
    assert(EncodeJob.donePartIds(spark, out) == lin.map(_.part_id).toSet)
    assert(DecodeJob.run(spark, out).count() == 200)
  }

  test("decodeColumn provides the column-pruned read path") {
    import spark.implicits._
    val out = tmpDir("colprune")
    val pages = PagesGen.generate(spark, 80, partitions = 2)
    EncodeJob.run(spark, pages, out, EncodeConfig(numPartitions = 2, chunkRows = 32))
    val langs = DecodeJob.decodeColumn(spark, out, "lang")
      .map { case (_, _, _, v) => new String(v, UTF_8) }
      .collect().sorted
    val expected = pages.collect().map(_.lang).sorted
    assert(langs.toSeq == expected.toSeq)
  }

  // ------------------------------------------------ Spark jobs and metadata

  // The counts at the commit before metadata I/O moved to the driver, for
  // the same calls: encode 4 (the _meta write, the exchange, the chunk
  // write, the _lineage write), decode 3 and text-only decode 3 (a schema
  // inference job, then the aggregate's two), search 2 (inference, then
  // the scan), readMeta 2 (inference, then the read) and donePartIds 3
  // (inference, then a distinct's two). A count above these pins means an
  // inference or metadata job came back.
  test("graft's own metadata and scans run no Spark jobs of their own") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, length, lit, sum}
    val out = tmpDir("jobs")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 32)
    val pages = PagesGen.generate(spark, 120, partitions = 4).collect().toIndexedSeq
    val input = spark.createDataset(pages)

    assert(jobsOf(EncodeJob.run(spark, input, out, cfg)) == 2,
      "encode into an empty dir: the exchange and the chunk write only")
    assert(jobsOf {
      DecodeJob.run(spark, out).toDF()
        .agg(count(lit(1)), sum(length(col("text")) + length(col("html")))).first()
    } == 2, "decode: the aggregate's two jobs, no schema inference")
    assert(jobsOf {
      DecodeJob.decodeProjected(spark, out, Seq("text"))
        .agg(count(lit(1)), sum(length(col("text")))).first()
    } == 2, "text-only decode: the aggregate's two jobs, no schema inference")
    assert(jobsOf(EncodeJob.readMeta(spark, out)) == 0)
    assert(jobsOf(EncodeJob.donePartIds(spark, out)) == 0)

    val idx = tmpDir("jobs_index")
    IndexJob.build(spark, pages.take(20).map(p => (p.url, p.text)).toDS(), idx)
    assert(jobsOf(IndexJob.search(spark, idx, Seq("the", "absent-pattern")).collect()) == 1,
      "search: the scan only, no schema inference")
  }

  // The jobs each maintenance call runs, by this spec's table and deltas.
  // At the commit before upsert's single staged rewrite the same calls ran
  // upsert 24, append 8 and delete 7; upsert then also encoded and wrote
  // the replacement rows to a delta temp table (3), checked the rows left
  // for an append (2) and ran the public append on them (7, with a second
  // dedupe window and stored-url scan). Until the swap took its lineage
  // from the rewrite's kernel, upsert, delete and compact each also ran a
  // lineage aggregation over the chunk metadata (2): upsert 18, delete 7,
  // compact 3.
  //  - upsert 16: the bound count, which also fills the persisted dedupe
  //    window (4); the url collect (1); the presence scan (4); the
  //    replacement rows' pre-encode into a cache, whose adaptive cache
  //    stage runs apart from the no-op pass that asks for it (2); the
  //    staged rewrite, whose kernel also emits the swap's lineage (1); the
  //    new urls' chunk-id offsets (2); their encode exchange and chunk
  //    write (2).
  //  - append 8: the chunk-id offsets (2); the write, whose dedupe window,
  //    stored-url anti-join and encode exchanges run as adaptive stages (6).
  //  - delete 5: the presence scan (4); the staged write (1).
  //  - compact 1: the staged write.
  test("upsert, append and delete run a pinned number of Spark jobs") {
    import spark.implicits._
    val out = tmpDir("jobs_maint")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val all = PagesGen.generate(spark, 160, partitions = 4, hostSkew = true).collect()
    EncodeJob.run(spark, spark.createDataset(all.take(120).toIndexedSeq), out, cfg)
    val replaced = all.take(6).map(p => p.copy(
      warc_ts = java.sql.Timestamp.from(p.warc_ts.toInstant.plusSeconds(60)),
      text = "v2 " + p.text))
    val upsertJobs = jobsOf(EncodeJob.upsert(spark,
      spark.createDataset((replaced ++ all.slice(120, 126)).toIndexedSeq), out, cfg))
    val appendJobs = jobsOf(EncodeJob.append(spark,
      spark.createDataset(all.slice(130, 140).toIndexedSeq), out, cfg))
    val deleteJobs = jobsOf(EncodeJob.delete(spark, out, all.slice(10, 15).map(_.url).toSeq, cfg))
    val compactJobs = jobsOf(EncodeJob.compact(spark, out, cfg))
    assert(upsertJobs == 16, "upsert of 6 replaced + 6 new urls")
    assert(appendJobs == 8, "append of 10 new urls")
    assert(deleteJobs == 5, "delete of 5 urls")
    assert(compactJobs == 1, "compact of the 4 partitions")
    val decoded = DecodeJob.run(spark, out).collect().map(p => p.url -> p.text).toMap
    assert(decoded.size == 120 + 6 + 10 - 5)
    replaced.foreach(p => assert(decoded(p.url) == p.text))
  }

  /** The footer of the one data file under `dir`: (parquet schema, the
    * key-value metadata Spark reads).
    */
  private def footer(dir: String): (org.apache.parquet.schema.MessageType, Map[String, String]) = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = DriverParquet.dataFiles(conf, new org.apache.hadoop.fs.Path(dir))
    assert(files.size == 1, s"one data file expected under $dir: ${files.map(_.getPath)}")
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(files.head.getPath, conf))
    try {
      val md = r.getFooter.getFileMetaData
      (md.getSchema, md.getKeyValueMetaData.asScala.toMap
        .filter { case (k, _) => k.startsWith("org.apache.spark.") })
    } finally r.close()
  }

  test("driver-written _meta and _lineage read back through Spark like Spark-written ones") {
    import spark.implicits._
    val out = tmpDir("meta_format")
    val cfg = EncodeConfig(numPartitions = 3, chunkRows = 16)
    EncodeJob.run(spark, PagesGen.generate(spark, 90, partitions = 3), out, cfg)
    val meta = cfg
    val lineage = spark.read.parquet(EncodeJob.lineagePath(out)).as[LineageRecord].collect()
      .sortBy(_.part_id).toSeq
    assert(lineage.map(_.part_id) == Seq(0, 1, 2))

    // the same rows, written by Spark the way the engine used to write them
    val sparkMeta = tmpDir("meta_spark")
    val sparkLineage = tmpDir("lineage_spark")
    spark.createDataset(Seq(meta)).write.parquet(sparkMeta)
    spark.createDataset(lineage).coalesce(1).write.parquet(sparkLineage)

    val (dm, sm) = (spark.read.parquet(EncodeJob.metaPath(out)), spark.read.parquet(sparkMeta))
    assert(dm.schema == sm.schema)
    assert(dm.as[EncodeConfig].collect().toSeq == Seq(meta))
    assert(sm.as[EncodeConfig].collect().toSeq == Seq(meta))
    val (dl, sl) = (spark.read.parquet(EncodeJob.lineagePath(out)), spark.read.parquet(sparkLineage))
    assert(dl.schema == sl.schema)
    assert(sl.as[LineageRecord].collect().sortBy(_.part_id).toSeq == lineage)
    // same parquet schema and the same Spark footer keys, file for file
    assert(footer(EncodeJob.metaPath(out)) == footer(sparkMeta))
    assert(footer(EncodeJob.lineagePath(out)) == footer(sparkLineage))

    // a run with the same layout leaves the stored _meta file as it is
    val conf = spark.sparkContext.hadoopConfiguration
    def metaFiles = DriverParquet.dataFiles(conf, new org.apache.hadoop.fs.Path(EncodeJob.metaPath(out)))
      .map(f => (f.getPath.getName, f.getModificationTime))
    val before = metaFiles
    EncodeJob.run(spark, PagesGen.generate(spark, 90, partitions = 3), out, cfg)
    assert(metaFiles == before)
  }

  test("a leftover hidden temp file is ignored by readers and hasCommittedFileUnder") {
    import spark.implicits._
    val out = tmpDir("meta_tmp")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 16)
    EncodeJob.run(spark, PagesGen.generate(spark, 40, partitions = 2), out, cfg)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    def junk(dir: String): org.apache.hadoop.fs.Path = {
      // a temp name as a crashed driver-side write leaves it; not parquet
      val p = new org.apache.hadoop.fs.Path(dir, ".graft-part-00000-x-c000.snappy.parquet.tmp")
      val o = fs.create(p, true); o.write("partial".getBytes(UTF_8)); o.close()
      p
    }
    val metaJunk = junk(EncodeJob.metaPath(out))
    junk(EncodeJob.lineagePath(out))
    val meta = cfg
    assert(EncodeJob.readMeta(spark, out).contains(meta))
    assert(EncodeJob.donePartIds(spark, out) == Set(0, 1))
    assert(spark.read.parquet(EncodeJob.metaPath(out)).as[EncodeConfig].collect().toSeq == Seq(meta))
    assert(spark.read.parquet(EncodeJob.lineagePath(out)).count() == 2)

    // a _meta dir holding only a temp file is no table
    val bare = tmpDir("meta_tmp_only")
    junk(EncodeJob.metaPath(bare))
    assert(!EncodeJob.hasCommittedFileUnder(spark, EncodeJob.metaPath(bare)))
    assert(EncodeJob.readMeta(spark, bare).isEmpty)

    // the next _meta write sweeps the leftover
    EncodeJob.writeMeta(spark, out, cfg.copy(chunkRows = 8), EncodeJob.readMeta(spark, out))
    assert(!fs.exists(metaJunk))
    assert(EncodeJob.readMeta(spark, out).contains(meta.copy(chunkRows = 8)))
    assert(DriverParquet.dataFiles(conf, new org.apache.hadoop.fs.Path(EncodeJob.metaPath(out))).size == 1)
  }

  test("a crash between any two filesystem steps of writeMeta leaves the old or the new meta") {
    val out = tmpDir("meta_steps")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 16)
    EncodeJob.run(spark, PagesGen.generate(spark, 40, partitions = 2), out, cfg)
    val conf = spark.sparkContext.hadoopConfiguration
    val metaDir = new org.apache.hadoop.fs.Path(EncodeJob.metaPath(out))
    val fs = metaDir.getFileSystem(conf)
    val oldCfg = cfg
    val newCfg = cfg.copy(chunkRows = 64)
    final class Crash extends RuntimeException("injected crash")

    var crashAt = 1
    var completed = false
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    while (!completed) {
      // from one old file plus one hidden leftover of an earlier crash
      EncodeJob.writeMeta(spark, out, oldCfg, EncodeJob.readMeta(spark, out))
      assert(DriverParquet.dataFiles(conf, metaDir).size == 1)
      fs.listStatus(metaDir).filter(_.getPath.getName.startsWith(".graft-"))
        .foreach(f => fs.delete(f.getPath, false))
      val o = fs.create(new org.apache.hadoop.fs.Path(metaDir, ".graft-left-over.parquet.tmp"), true)
      o.close()
      var step = 0
      DriverParquet.stepHook = name => {
        step += 1
        if (step == crashAt) { seen += name; throw new Crash }
      }
      try {
        EncodeJob.writeMeta(spark, out, newCfg, EncodeJob.readMeta(spark, out))
        completed = true
      } catch { case _: Crash => () }
      finally DriverParquet.stepHook = _ => ()
      val read = EncodeJob.readMeta(spark, out)
      assert(read.contains(oldCfg) || read.contains(newCfg),
        s"crash after step $crashAt (${seen.lastOption}) left $read")
      crashAt += 1
    }
    assert(EncodeJob.readMeta(spark, out).contains(newCfg))
    assert(DriverParquet.dataFiles(conf, metaDir).size == 1)
    assert(seen.toSeq == Seq("swept", "written", "renamed", "deleted"), seen)
  }
}
