package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** Tables written by the removed raw-row encode path keep working.
  *
  * That path shuffled raw rows and let the chunk-level codec policy pick
  * text/html codecs (Dict/Rle/Fsst/Raw as well as the per-value BwtBin
  * container the current encoder always writes). The fixture under
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

  /** A private, writable copy of the fixture table. */
  private def legacyTable(name: String): String = {
    val out = tmpDir(name)
    copyTree(Paths.get(getClass.getResource("/legacy_raw_table").toURI), Paths.get(out))
    out
  }

  /** Page as comparable values (html is an Array[Byte]). */
  private def key(p: Page) =
    (p.url, p.warc_ts, Option(p.html).map(_.toSeq), p.text, p.lang)

  private def decoded(out: String) = DecodeJob.run(spark, out).collect().map(key).toSet

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

  test("compact with reencode writes the same chunk bytes as body reuse") {
    val base = tmpDir("reuse_vs_reencode")
    val all = PagesGen.generate(spark, 260, partitions = 4)
    val cfg2 = EncodeConfig(numPartitions = 2, chunkRows = 32)
    EncodeJob.run(spark, all.limit(200), base, cfg2)
    EncodeJob.append(spark, all, base, cfg2) // tail chunks: something to re-slice
    val reuse = tmpDir("reuse")
    val reencode = tmpDir("reencode")
    copyTree(Paths.get(base), Paths.get(reuse))
    copyTree(Paths.get(base), Paths.get(reencode))
    EncodeJob.compact(spark, reuse, cfg2)
    EncodeJob.compact(spark, reencode, cfg2, reencode = true)
    def rows(out: String) = chunks(out).map { c =>
      (c.part_id, c.chunk_id, c.n_rows, c.url_min, c.url_max,
        c.columns.map { case (n, cc) => (n, cc.codec, cc.bytes_in, cc.bytes_out, cc.payload_hash, cc.payload.toSeq) })
    }.sortBy(r => (r._1, r._2)).toSeq
    val a = rows(reuse)
    assert(a.map(_._3).sum == 260)
    assert(a == rows(reencode))
  }
}
