package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.spark.{EncodeConfig, Page, PagesGen, TestSpark}

class StreamingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_stream_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/out"
  }

  test("startAppending: micro-batches land in ONE canonical table, idempotently") {
    val pages = (0 until 90).map(i => PagesGen.page(23L, i.toLong, 90, hostSkew = false))
    val staging = tmp("app_stage")
    val table = tmp("app_table")
    val ckpt = tmp("app_ckpt")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 16)
    // three slices; the third OVERLAPS the second by 10 urls — the append
    // dedupe must drop them (a crawler re-delivering pages is the norm)
    Seq(0 until 30, 30 until 60, 50 until 90).foreach { r =>
      spark.createDataset(r.map(i => pages(i)))
        .coalesce(1).write.mode("append").parquet(staging)
    }

    // crash before batch 1; restart redelivers it — append idempotence
    // (url-range dedupe) gives exactly-once in the ONE table
    val q1 = StreamingEncodeJob.startAppending(
      StreamingEncodeJob.pagesFileStream(spark, staging), table, ckpt, cfg,
      onBatchStart = id => if (id == 1) sys.error("injected crash before batch 1"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.awaitTermination())
    assert(err.getMessage.contains("injected crash"))
    // batch 0 (the first slice, discovered alone) is committed; nothing after it
    assert(graft.spark.DecodeJob.run(spark, table).collect().map(_.url).toSet ==
      pages.take(30).map(_.url).toSet)
    val q2 = StreamingEncodeJob.startAppending(
      StreamingEncodeJob.pagesFileStream(spark, staging), table, ckpt, cfg)
    q2.awaitTermination()

    // single canonical table: full decode exact, no batch= dirs anywhere
    assert(!new java.io.File(table).listFiles().exists(_.getName.startsWith("batch=")))
    val decoded = graft.spark.DecodeJob.run(spark, table).collect()
    assert(decoded.length == 90 && decoded.map(_.url).distinct.length == 90)
    val byUrl = decoded.map(p => p.url -> p).toMap
    pages.foreach { p =>
      val d = byUrl(p.url)
      assert(d.text == p.text && d.lang == p.lang && d.warc_ts == p.warc_ts)
      assert(java.util.Arrays.equals(d.html, p.html))
    }
    // and the table serves pruned point lookups directly
    val hit = graft.spark.DecodeJob.lookupUrls(spark, table, Seq(pages(55).url)).collect()
    assert(hit.length == 1 && hit.head.text == pages(55).text)
  }

  test("startAppending(curate): per-batch curation gates + redaction land curated rows only, idempotently") {
    val pages = (0 until 80).map(i => PagesGen.page(71L, i.toLong, 80, hostSkew = false)
      .copy(text = s"p$i contact user$i@mail.example.com tail"))
    val staging = tmp("cur_stage")
    val table = tmp("cur_table")
    val ckpt = tmp("cur_ckpt")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 16)
    // second slice redelivers 10 urls of the first: the curate hook must
    // re-produce identical rows for them so append's dedupe drops them
    Seq(0 until 45, 35 until 80).foreach { r =>
      spark.createDataset(r.map(i => pages(i)))
        .coalesce(1).write.mode("append").parquet(staging)
    }
    // deterministic pure-row curation: a stratified-sample-style keep rule
    // on the url hash + PII redaction of the text column
    def keep(p: Page): Boolean = (p.url.hashCode & 3) != 0
    val curate: org.apache.spark.sql.Dataset[Page] => org.apache.spark.sql.Dataset[Page] =
      b => b.filter(keep _).withColumn("text",
        graft.pipeline.TextAnalysis.piiRedact(col("text"))).as[Page]

    // kill before batch 1, resume: redelivered batches re-curate identically
    val q1 = StreamingEncodeJob.startAppending(
      StreamingEncodeJob.pagesFileStream(spark, staging), table, ckpt, cfg,
      onBatchStart = id => if (id == 1) sys.error("injected crash before batch 1"),
      curate = curate)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.awaitTermination())
    val q2 = StreamingEncodeJob.startAppending(
      StreamingEncodeJob.pagesFileStream(spark, staging), table, ckpt, cfg,
      curate = curate)
    q2.awaitTermination()

    val expected = pages.filter(keep).map(p =>
      p.url -> p.text.replaceAll("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>")).toMap
    assert(expected.nonEmpty && expected.size < pages.size,
      "fixture must actually gate some rows and keep others")
    val decoded = graft.spark.DecodeJob.run(spark, table).collect()
    assert(decoded.length == expected.size, "exactly the curated rows, exactly once")
    decoded.foreach { d =>
      assert(expected(d.url) == d.text, s"${d.url}: expected redacted text")
      assert(d.text.contains("<EMAIL>") && !d.text.contains("@mail.example.com"))
    }
  }

  test("startAppending with in-stream compaction: fragmentation stays bounded, lookups stay green") {
    val pages = (0 until 120).map(i => PagesGen.page(37L, i.toLong, 120, hostSkew = false))
    val staging = tmp("cmp_stage")
    val table = tmp("cmp_table")
    val ckpt = tmp("cmp_ckpt")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 32)
    // four slices -> four micro-batches; compaction after every 2nd
    (0 until 4).foreach { s =>
      spark.createDataset(pages.slice(s * 30, s * 30 + 30))
        .coalesce(1).write.mode("append").parquet(staging)
    }

    // crash at batch 2 start — AFTER the first in-stream compaction (end of
    // batch 1); restart must redeliver batch 2 against the compacted table
    val q1 = StreamingEncodeJob.startAppending(
      StreamingEncodeJob.pagesFileStream(spark, staging), table, ckpt, cfg,
      onBatchStart = id => if (id == 2) sys.error("injected crash before batch 2"),
      compactEveryBatches = Some(2), compactSlackChunks = 0)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.awaitTermination())
    val midLookup = graft.spark.DecodeJob.lookupUrls(spark, table, Seq(pages(35).url)).collect()
    assert(midLookup.length == 1 && midLookup.head.text == pages(35).text,
      "lookups must work on the mid-stream compacted table")

    val q2 = StreamingEncodeJob.startAppending(
      StreamingEncodeJob.pagesFileStream(spark, staging), table, ckpt, cfg,
      compactEveryBatches = Some(2), compactSlackChunks = 0)
    q2.awaitTermination()

    val decoded = graft.spark.DecodeJob.run(spark, table).collect()
    assert(decoded.length == 120 && decoded.map(_.url).distinct.length == 120)
    val byUrl = decoded.map(p => p.url -> p).toMap
    pages.foreach { p =>
      val d = byUrl(p.url)
      assert(d.text == p.text && d.warc_ts == p.warc_ts)
      assert(java.util.Arrays.equals(d.html, p.html))
    }
    // batch 3 (the 4th) ended with a compaction pass: nothing fragmented
    assert(graft.spark.EncodeJob.fragmentedPartIds(spark, table, cfg, slackChunks = 0).isEmpty,
      "in-stream compaction must leave no fragmented partitions at a boundary")
    val hit = graft.spark.DecodeJob.lookupUrls(spark, table, Seq(pages(95).url)).collect()
    assert(hit.length == 1 && hit.head.text == pages(95).text)
  }

  test("startAppending(newestWins): a later batch's re-crawl replaces the stored row") {
    val pages = (0 until 60).map(i => PagesGen.page(53L, i.toLong, 60, hostSkew = false))
    val staging = tmp("up_stage")
    val table = tmp("up_table")
    val ckpt = tmp("up_ckpt")
    val cfg = EncodeConfig(numPartitions = 2, chunkRows = 16)
    // batch 1 re-crawls 10 urls of batch 0 with newer content
    val recrawl = pages.take(10).map(p => p.copy(
      warc_ts = java.sql.Timestamp.from(p.warc_ts.toInstant.plusSeconds(3600)),
      text = "recrawled " + p.text))
    spark.createDataset(pages.take(40)).coalesce(1).write.mode("append").parquet(staging)
    spark.createDataset(pages.drop(40) ++ recrawl).coalesce(1)
      .write.mode("append").parquet(staging)

    val q = StreamingEncodeJob.startAppending(
      StreamingEncodeJob.pagesFileStream(spark, staging), table, ckpt, cfg,
      newestWins = true)
    q.awaitTermination()

    val decoded = graft.spark.DecodeJob.run(spark, table).collect()
    assert(decoded.length == 60 && decoded.map(_.url).distinct.length == 60)
    recrawl.foreach { r =>
      val d = decoded.find(_.url == r.url).get
      assert(d.text == r.text && d.warc_ts == r.warc_ts,
        s"newest-wins stream must replace ${r.url}")
    }
    pages.drop(10).foreach { p =>
      assert(decoded.find(_.url == p.url).get.text == p.text)
    }
  }

  test("streaming encode: micro-batches run the batch kernel; decode is bit-identical") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pages = (0 until 120).map(i => PagesGen.page(7L, i.toLong, 120, hostSkew = false))
    val table = tmp("enc")
    val ckpt = tmp("ckpt")
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 32)

    val stream = MemoryStream[Page]
    stream.addData(pages.take(70))
    val q1 = StreamingEncodeJob.startAppending(stream.toDS(), table, ckpt, cfg)
    q1.awaitTermination()

    // second delivery after a "restart": checkpoint assigns a fresh batch id
    stream.addData(pages.drop(70))
    val q2 = StreamingEncodeJob.startAppending(stream.toDS(), table, ckpt, cfg)
    q2.awaitTermination()

    val decoded = graft.spark.DecodeJob.run(spark, table)
    assert(decoded.count() == 120)

    // bit-identical: join on url, compare every payload column
    val orig = spark.createDataset(pages)
    val joined = decoded.toDF("d_url", "d_ts", "d_html", "d_text", "d_lang")
      .join(orig.toDF("url", "ts", "html", "text", "lang"), $"d_url" === $"url")
    assert(joined.count() == 120)
    val mismatches = joined.filter(
      !($"d_text" <=> $"text") || !($"d_lang" <=> $"lang") ||
        !($"d_html" <=> $"html") || !($"d_ts" <=> $"ts")).count()
    assert(mismatches == 0)

    // each micro-batch's write adds its own lineage rows to the one table
    val lineage = spark.read.parquet(graft.spark.EncodeJob.lineagePath(table))
      .as[graft.spark.LineageRecord].collect()
    assert(lineage.forall(_.status == "done") && lineage.map(_.n_rows).sum == 120)
    assert(lineage.groupBy(_.part_id).values.forall(_.length == 2), lineage.toSeq)
  }
}
