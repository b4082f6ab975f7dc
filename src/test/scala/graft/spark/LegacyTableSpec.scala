package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** Tables written by removed encode paths keep working.
  *
  * The raw-row path shuffled raw rows and let the chunk-level codec
  * policy pick text/html codecs (Dict/Rle/Fsst/Raw as well as the
  * per-value BwtBin container the current encoder always writes). The
  * fixture under
  * `src/test/resources/legacy_raw_table` (chunks, `_meta`, `_lineage`) was
  * written by that path at commit 0e5c44d with
  * {{{
  *   // local[4], spark.sql.shuffle.partitions = 4, session time zone UTC
  *   EncodeJob.run(spark, spark.createDataset(LegacyTableSpec.pages), out,
  *     EncodeConfig(numPartitions = 3, chunkRows = 16, RAW_ROW_FLAG = false))
  * }}}
  * where RAW_ROW_FLAG is the Boolean field of that commit's `EncodeConfig`
  * that chose the raw-row shuffle when false (see
  * `git show 0e5c44d:src/main/scala/graft/spark/EncodeJob.scala`), and
  * copied without its `.crc` side files. Its pages are short, so the chunk
  * policy chose dict/raw for them.
  *
  * `src/test/resources/legacy_speed_table` was written by the removed
  * speed-biased codec policy, whose per-value text/html bodies are
  * `Pipelines.textEncodeFast`'s order-0 Huffman/raw forms (tags 4/2)
  * instead of BWT ones, at commit 585d06c with
  * {{{
  *   // local[4], spark.sql.shuffle.partitions = 4, session time zone UTC
  *   EncodeJob.run(spark, PagesGen.generate(spark, 60, partitions = 4), out,
  *     EncodeConfig(numPartitions = 3, chunkRows = 16, bwtBias = 0.0))
  * }}}
  * and copied without its `.crc` side files.
  *
  * `src/test/resources/legacy_plain_body_table` was written before html
  * bodies could hold text slots (body tag 5), so every html body is
  * `Pipelines.textEncode(html)`, at commit bb4beb5 with
  * {{{
  *   // local[4], spark.sql.shuffle.partitions = 4, session time zone UTC
  *   EncodeJob.run(spark, PagesGen.generate(spark, 60, partitions = 4), out,
  *     EncodeConfig(numPartitions = 3, chunkRows = 16))
  * }}}
  * and copied without its `.crc` side files. It holds the same pages as
  * `legacy_speed_table`.
  *
  * `src/test/resources/legacy_fm_index_v2_table` is an [[IndexJob]] table
  * in FM index format v2 (the raw BWT, its tables and SA samples), written
  * before format v3 replaced it, at commit 85d3be9 with
  * {{{
  *   // local[4], spark.sql.shuffle.partitions = 4, session time zone UTC
  *   IndexJob.build(spark, PagesGen.generate(spark, 40, partitions = 4)
  *     .map(p => (p.url, p.text.take(600))), out)
  * }}}
  * and copied without its `.crc` and `_SUCCESS` side files.
  */
object LegacyTableSpec {
  val cfg: EncodeConfig = EncodeConfig(numPartitions = 3, chunkRows = 16)

  val pages: Seq[Page] = (0 until 60).map { i =>
    Page(
      url = f"https://fx${i % 3}.test/page/$i%03d",
      warc_ts = new java.sql.Timestamp(1700000000000L + i * 61000L),
      html = if (i % 13 == 5) null
        else s"<html><head><title>fixture</title></head><body>${if (i % 2 == 0) "even" else "odd"}</body></html>"
          .getBytes("UTF-8"),
      text = if (i % 11 == 3) null
        else s"fixture page $i is a short text about the topic " +
          s"${Seq("rivers", "mountains", "forests", "deserts")(i % 4)} with a shared boilerplate phrase",
      lang = if (i % 17 == 7) null else Seq("en", "de", "fr")(i % 3))
  }
}

class LegacyTableSpec extends AnyFunSuite {
  import TestSpark.spark
  import LegacyTableSpec.{cfg, pages}

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/out"
  }

  /** A private, writable copy of a fixture table. */
  private def legacyTable(name: String, fixture: String = "legacy_raw_table"): String = {
    val out = tmpDir(name)
    copyTree(Paths.get(getClass.getResource(s"/$fixture").toURI), Paths.get(out))
    out
  }

  private def speedTable(name: String): String = legacyTable(name, "legacy_speed_table")

  private def plainBodyTable(name: String): String = legacyTable(name, "legacy_plain_body_table")

  /** The pages `legacy_speed_table` and `legacy_plain_body_table` hold. */
  private lazy val speedPages: Seq[Page] = PagesGen.generate(spark, 60, partitions = 4).collect().toSeq

  /** Page as comparable values (html is an Array[Byte]). */
  private def key(p: Page) =
    (p.url, p.warc_ts, Option(p.html).map(_.toSeq), p.text, p.lang)

  private def decoded(out: String) = DecodeJob.run(spark, out).collect().map(key).toSet

  /** The range, prefix and four-column projected reads of `out` return
    * the `model` pages they select.
    */
  private def assertSliceReads(out: String, model: Seq[Page]): Unit = {
    val urls = model.map(_.url).sorted
    val (lo, hi) = (urls(urls.size / 4), urls(3 * urls.size / 4))
    assert(DecodeJob.decodeUrlRange(spark, out, lo, hi).collect().map(key).toSet ==
      model.filter(p => p.url >= lo && p.url < hi).map(key).toSet)
    val prefix = urls.head.take(urls.head.indexOf('/', "https://".length) + 1) // one host
    val hostPages = model.filter(_.url.startsWith(prefix))
    assert(hostPages.nonEmpty && hostPages.size < model.size)
    assert(DecodeJob.decodeUrlPrefix(spark, out, prefix).collect().map(key).toSet ==
      hostPages.map(key).toSet)
    val projected = DecodeJob.decodeProjected(spark, out, Seq("warc_ts", "html", "text", "lang"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3), r.getString(4)))
    assert(projected.toSet == model.map(p => (p.url,
      Math.floorDiv(p.warc_ts.getTime, 1000L) * 1000000L + p.warc_ts.getNanos / 1000L,
      Option(p.html).map(new String(_, "UTF-8")).orNull, p.text, p.lang)).toSet)
    assert(projected.length == model.size)
  }

  /** Whether a chunk's text and html payloads are in the per-value form. */
  private def perValue(c: EncodedChunk): Seq[Boolean] =
    Seq(c.html, c.text).map(cc => graft.codec.ColumnCodec.extractBwtBodies(cc.payload).isDefined)

  private def chunks(out: String): Array[EncodedChunk] = {
    import spark.implicits._
    spark.read.parquet(EncodeJob.chunksPath(out)).as[EncodedChunk].collect()
  }

  test("legacy fixture holds chunk-level (non-BwtBin) text/html codecs") {
    val cs = chunks(legacyTable("legacy_codecs"))
    assert(cs.map(_.n_rows).sum == pages.size)
    assert(cs.exists(c => perValue(c).contains(false)),
      cs.map(c => s"${c.html.codec}/${c.text.codec}").mkString(", "))
  }

  test("legacy table: decode and lookupUrls return the original pages") {
    val out = legacyTable("legacy_read")
    assert(decoded(out) == pages.map(key).toSet)
    val wanted = Seq(pages(3), pages(5), pages(7), pages(42))
    val got = DecodeJob.lookupUrls(spark, out, wanted.map(_.url) :+ "https://fx0.test/absent")
      .collect().map(key).toSet
    assert(got == wanted.map(key).toSet)
    assertSliceReads(out, pages)
  }

  test("legacy table: compact re-encodes per value, decode bit-identical") {
    val out = legacyTable("legacy_compact")
    EncodeJob.compact(spark, out, cfg)
    assert(decoded(out) == pages.map(key).toSet)
    // the decode + per-value re-encode fallback converted every chunk
    assert(chunks(out).forall(c => perValue(c).forall(identity)))
    val lineage = spark.read.parquet(EncodeJob.lineagePath(out))
      .select(org.apache.spark.sql.functions.sum("n_rows")).first().getLong(0)
    assert(lineage == pages.size)
  }

  test("legacy table: upsert keeps decode bit-identical") {
    import spark.implicits._
    val out = legacyTable("legacy_upsert")
    val refreshed = Seq(pages(4), pages(31)).map(p =>
      p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 1000L), text = p.text + " (refreshed)"))
    val added = pages(0).copy(url = "https://fx0.test/page/new")
    EncodeJob.upsert(spark, spark.createDataset(refreshed :+ added), out, cfg)
    val expected = pages.filterNot(p => refreshed.exists(_.url == p.url)) ++ refreshed :+ added
    assert(decoded(out) == expected.map(key).toSet)
  }

  test("legacy table: append mixes Spark- and driver-written lineage files; both are read") {
    import spark.implicits._
    val out = legacyTable("legacy_mixed_lineage")
    val conf = spark.sparkContext.hadoopConfiguration
    val lineageDir = new org.apache.hadoop.fs.Path(EncodeJob.lineagePath(out))
    def lineageFiles = DriverParquet.dataFiles(conf, lineageDir).map(_.getPath.getName).toSet
    val sparkWritten = lineageFiles
    assert(sparkWritten.size == 1)
    assert(EncodeJob.donePartIds(spark, out) == Set(0, 1, 2))

    val added = (0 until 12).map(i => pages(i).copy(url = f"https://fx${i % 3}.test/added/$i%03d"))
    EncodeJob.append(spark, spark.createDataset(added), out, cfg)
    val driverWritten = lineageFiles -- sparkWritten
    assert(sparkWritten.subsetOf(lineageFiles) && driverWritten.size == 1, lineageFiles)
    // each file holds its own write's rows; the readers take both
    def rowsOf(name: String) = spark.read.parquet(new org.apache.hadoop.fs.Path(lineageDir, name).toString)
      .as[LineageRecord].collect().toSeq
    val (oldRows, newRows) = (rowsOf(sparkWritten.head), rowsOf(driverWritten.head))
    assert(oldRows.map(_.n_rows).sum == pages.size && newRows.map(_.n_rows).sum == added.size)
    assert(EncodeJob.donePartIds(spark, out) == (oldRows ++ newRows).map(_.part_id).toSet)
    val health = EncodeJob.describe(spark, out, cfg).collect().head
    assert(health.n_rows == pages.size + added.size && health.n_partitions == cfg.numPartitions &&
      health.chunk_rows == cfg.chunkRows)

    // compaction folds the rows of both files into one row per partition
    EncodeJob.compact(spark, out, cfg)
    val lineage = spark.read.parquet(EncodeJob.lineagePath(out)).as[LineageRecord].collect()
    assert(lineage.map(_.part_id).sorted.toSeq == Seq(0, 1, 2))
    assert(lineage.map(_.n_rows).sum == pages.size + added.size)
    assert(decoded(out) == (pages ++ added).map(key).toSet)
  }

  /** url -> its stored (html, text) per-value bodies. */
  private def bodiesByUrl(out: String): Map[String, Seq[Seq[Byte]]] =
    chunks(out).toSeq.flatMap { c =>
      val urls = graft.codec.ColumnCodec.decodeBinary(c.url.payload).map(new String(_, "UTF-8"))
      val bodies = Seq(c.html, c.text).map(cc =>
        graft.codec.ColumnCodec.extractBwtBodies(cc.payload).getOrElse(fail(s"${cc.codec} is not per-value")))
      urls.indices.map(i => urls(i) -> bodies.map(b => b(i).toSeq))
    }.toMap

  test("legacy speed-biased table: decode and lookupUrls return the original pages") {
    val out = speedTable("speed_read")
    assert(decoded(out) == speedPages.map(key).toSet)
    val wanted = Seq(speedPages(2), speedPages(17), speedPages(40), speedPages(59))
    val got = DecodeJob.lookupUrls(spark, out, wanted.map(_.url) :+ "https://host1.example/p/absent/0")
      .collect().map(key).toSet
    assert(got == wanted.map(key).toSet)
    assertSliceReads(out, speedPages)
  }

  test("legacy speed-biased table: compact reuses the fast-coded bodies, decode bit-identical") {
    val out = speedTable("speed_compact")
    val before = bodiesByUrl(out)
    assert(before.size == speedPages.size)
    assert(before.values.flatten.forall(b => b.head == 2 || b.head == 4),
      "the fixture's text/html bodies must be the speed codec's (tags 2/4)")
    EncodeJob.compact(spark, out, cfg)
    assert(decoded(out) == speedPages.map(key).toSet)
    assert(bodiesByUrl(out) == before, "compact must reuse the stored bodies, not re-encode them")
  }

  test("legacy speed-biased table: append and upsert keep decode bit-identical") {
    import spark.implicits._
    val out = speedTable("speed_append_upsert")
    val added = PagesGen.generate(spark, 80, partitions = 4).collect().toSeq.drop(60)
    EncodeJob.append(spark, spark.createDataset(added), out, cfg)
    assert(decoded(out) == (speedPages ++ added).map(key).toSet)
    val refreshed = Seq(speedPages(5), added(3)).map(p =>
      p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 1000L), text = p.text + " (refreshed)"))
    EncodeJob.upsert(spark, spark.createDataset(refreshed), out, cfg)
    val expected = (speedPages ++ added).filterNot(p => refreshed.exists(_.url == p.url)) ++ refreshed
    assert(decoded(out) == expected.map(key).toSet)
    // the untouched fixture pages keep their fast-coded bodies
    val bodies = bodiesByUrl(out)
    assert(speedPages.filterNot(p => refreshed.exists(_.url == p.url))
      .forall(p => bodies(p.url).forall(b => b.head == 2 || b.head == 4)))
  }

  /** Whether a stored per-value html body has text slots. */
  private def slotted(body: Seq[Byte]): Boolean = body.head == graft.codec.Pipelines.TextSlotTag

  test("pre-text-slot table: reads, lookups and a compact that keeps its plain html bodies") {
    val out = plainBodyTable("plain_read_compact")
    val before = bodiesByUrl(out)
    assert(before.size == speedPages.size)
    assert(before.values.forall(b => !slotted(b.head)), "the fixture's html bodies must be plain")
    assert(decoded(out) == speedPages.map(key).toSet)
    val wanted = Seq(speedPages(1), speedPages(30), speedPages(58))
    assert(DecodeJob.lookupUrls(spark, out, wanted.map(_.url)).collect().map(key).toSet ==
      wanted.map(key).toSet)
    // an html-only projection reads the text leaf for the splice: both
    // forms decode the same html
    import spark.implicits._
    val htmlOnly = DecodeJob.decodeProjected(spark, out, Seq("html"))
      .as[(String, String)].collect().toMap
    assert(htmlOnly == speedPages.map(p => p.url -> new String(p.html, "UTF-8")).toMap)
    assertSliceReads(out, speedPages)
    EncodeJob.compact(spark, out, cfg)
    assert(decoded(out) == speedPages.map(key).toSet)
    assert(bodiesByUrl(out) == before, "compact must reuse the plain html bodies, not re-slot them")
  }

  test("pre-text-slot table: append, upsert and delete; chunks mixing plain and text-slot bodies decode to the model") {
    import spark.implicits._
    val out = plainBodyTable("plain_lifecycle")
    val added = PagesGen.generate(spark, 80, partitions = 4).collect().toSeq.drop(60)
    EncodeJob.append(spark, spark.createDataset(added), out, cfg)
    var model = (speedPages ++ added).map(p => p.url -> p).toMap
    assert(decoded(out) == model.values.map(key).toSet)
    // a refresh whose html embeds its new text: the replacement rows get
    // text-slot bodies, the untouched stored rows keep their plain ones
    val refreshed = Seq(speedPages(5), speedPages(22), added(3)).map { p =>
      val t = p.text + " refreshed"
      p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 1000L), text = t,
        html = s"<html><body><p>$t</p></body></html>".getBytes("UTF-8"))
    }
    EncodeJob.upsert(spark, spark.createDataset(refreshed), out, cfg)
    model ++= refreshed.map(p => p.url -> p)
    assert(decoded(out) == model.values.map(key).toSet)
    val bodies = bodiesByUrl(out)
    assert(refreshed.forall(p => slotted(bodies(p.url).head)))
    assert(speedPages.filterNot(p => refreshed.exists(_.url == p.url)).forall(p => !slotted(bodies(p.url).head)))
    val mixed = chunks(out).filter { c =>
      val heads = graft.codec.ColumnCodec.extractBwtBodies(c.html.payload).get.map(b => slotted(b.toSeq))
      heads.contains(true) && heads.contains(false)
    }
    assert(mixed.nonEmpty, "the upsert's rewrite must mix plain and text-slot bodies in a chunk")
    // each mixed chunk decodes to the model on its own too
    mixed.foreach { c =>
      val urls = graft.codec.ColumnCodec.decodeBinary(c.url.payload).map(new String(_, "UTF-8"))
      val texts = graft.codec.ColumnCodec.decodeBinaryNullable(c.text.payload)
      val htmls = graft.codec.ColumnCodec.decodeHtml(c.html.payload, texts)
      urls.indices.foreach(i => assert(htmls(i).sameElements(model(urls(i)).html), urls(i)))
    }
    // the html-only projection splices from the text leaf it scans alongside
    val htmlOnly = DecodeJob.decodeProjected(spark, out, Seq("html"))
      .as[(String, String)].collect()
    assert(htmlOnly.length == model.size &&
      htmlOnly.toMap == model.map { case (u, p) => u -> new String(p.html, "UTF-8") })
    val gone = Seq(speedPages(7).url, refreshed(1).url, added(10).url)
    EncodeJob.delete(spark, out, gone, cfg)
    model --= gone
    assert(decoded(out) == model.values.map(key).toSet)
    val beforeCompact = bodiesByUrl(out)
    EncodeJob.compact(spark, out, cfg)
    assert(decoded(out) == model.values.map(key).toSet)
    assert(bodiesByUrl(out) == beforeCompact, "compact reuses plain and text-slot bodies alike")
  }

  test("a v2 FM index table written before format v3: search equals a naive count and the full-SA locate") {
    import spark.implicits._
    val docs = (0L until 40L).map { id =>
      val p = PagesGen.page(42L, id, 100, hostSkew = false)
      p.url -> p.text.take(600).getBytes("UTF-8")
    }.toMap
    val table = getClass.getResource("/legacy_fm_index_v2_table").toURI.getPath
    val stored = TableScan[IndexJob.IndexRow](spark, table).as[IndexJob.IndexRow].collect()
    assert(stored.map(_.doc_key).toSet == docs.keySet && stored.forall(_.index(0) == 2))
    val pair = PagesGen.page(42L, 0L, 100, hostSkew = false).text.split(' ').slice(3, 5).mkString(" ")
    val patterns = Seq("the", pair, " ", "é", "zq-absent")
    val hits = IndexJob.search(spark, table, patterns).collect()
    assert(hits.length == docs.size * patterns.size)
    hits.foreach { h =>
      val t = docs(h.doc_key)
      val p = h.pattern.getBytes("UTF-8")
      val naive = (0 to t.length - p.length).count(i => java.util.Arrays.equals(t, i, i + p.length, p, 0, p.length))
      assert(h.cnt == naive, s"${h.doc_key} ${h.pattern}")
      val locate = graft.codec.FmIndex.build(t).locate(p)
      assert(h.positions_unsorted == locate.map(_.toLong).toSeq, s"${h.doc_key} ${h.pattern}")
      assert(h.first_pos == locate.minOption.map(_.toLong))
    }
    assert(hits.exists(h => h.pattern == patterns(1) && h.cnt > 0))
  }
}
