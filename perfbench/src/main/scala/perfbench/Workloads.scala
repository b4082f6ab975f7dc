package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.spark._

/** One benchmark workload. Every workload has the same three roles, so
  * every run reports the same end-to-end metrics:
  *  - load: writes generated input into a graft structure;
  *  - read: the closed-loop client's read of that structure;
  *  - pass: a whole-structure job that follows the reads.
  */
trait Workload {
  def name: String

  /** Builds inputs (and tables) from the seed; run several times. */
  def setup(ctx: Ctx, attempt: Int): Unit

  /** Writes the workload's input table to `dir` as plain parquet: the
    * set-up's work, and the reference op's write (see Main).
    */
  def writeInput(ctx: Ctx, dir: String): Unit

  /** Rows of the input table. */
  def inputRows: Long

  /** One closed-loop cycle of timed ops. */
  def cycle(ctx: Ctx): Unit

  /** One timed load op; repeated at 1 thread for scale_eff. */
  def loadOp(ctx: Ctx): Unit

  /** Stored bytes / raw bytes of what the load role wrote. */
  def ratio(ctx: Ctx): Double

  /** Pages whose text the single-thread codec probes use. */
  def codecSample: IndexedSeq[Page]

  /** Nominal seconds of one measured cycle, with its one-slot load op, on
    * a 4-core host. It turns `--seconds` into a fixed cycle count.
    */
  def cycleSeconds: Double

  /** Unrecorded cycles before the measured ones. Op times fall fast over
    * the first few cycles, then slowly for ten or more as the JIT compiles
    * the engine's and Spark's driver-side code; the measured window starts
    * after the fast part.
    */
  def warmupCycles: Int

  /** Rounds of pass ops in one cycle; `pass_rel` uses their time per round. */
  def passRounds: Int
}

object Workload {
  def apply(name: String, opts: Opts): Workload = name match {
    case "bulk_load" => new BulkLoad(opts)
    case "text_search" => new TextSearch(opts)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val Names = Seq("bulk_load", "text_search")

  def cfg(ctx: Ctx): EncodeConfig = EncodeConfig(numPartitions = 2 * ctx.cores)

  def samePage(a: Page, b: Page): Boolean =
    a.url == b.url && a.warc_ts == b.warc_ts && java.util.Arrays.equals(a.html, b.html) &&
      a.text == b.text && a.lang == b.lang

  /** Number of expected pages that `decoded` does not reproduce byte for
    * byte, plus decoded pages that were not expected.
    */
  def pageMismatches(expected: collection.Map[String, Page], decoded: Iterable[Page]): Long = {
    var bad = 0L
    val seen = mutable.HashSet.empty[String]
    decoded.foreach { p =>
      if (!seen.add(p.url)) bad += 1
      else expected.get(p.url) match {
        case Some(e) if samePage(e, p) =>
        case _ => bad += 1
      }
    }
    bad + expected.keysIterator.count(u => !seen.contains(u))
  }

  /** The self-test's deliberate corruption: flip one text byte of one page. */
  def corrupt(pages: Array[Page]): Array[Page] =
    if (pages.isEmpty) pages
    else {
      val p = pages(0)
      val t = p.text.getBytes(UTF_8)
      t(0) = (t(0) ^ 1).toByte
      pages.updated(0, p.copy(text = new String(t, UTF_8)))
    }

  def deleteDir(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  /** Occurrences of `pat` in `text`, overlapping, by plain scanning. */
  def naiveCount(text: Array[Byte], pat: Array[Byte]): Long = {
    var n = 0L
    var i = 0
    val last = text.length - pat.length
    while (i <= last) {
      var j = 0
      while (j < pat.length && text(i + j) == pat(j)) j += 1
      if (j == pat.length) n += 1
      i += 1
    }
    n
  }
}

/** Encode a fresh host-skewed pages table into an empty directory, decode
  * it all, then decode its text column alone. The batch path the paper's
  * north metric is about: codec text kernels, the salted exchange, parquet.
  */
final class BulkLoad(opts: Opts) extends Workload {
  val name = "bulk_load"
  val cycleSeconds = 3.0
  val warmupCycles = 2
  private val corpus = Gen.corpus(opts.seed, if (opts.tiny) 25000 else 150000, 200, lenScale = 110)
  private val expected = corpus.pages.map(p => p.url -> p).toMap
  private var input = ""
  private var table = 0
  private var lastRatio = Double.NaN
  def codecSample: IndexedSeq[Page] = corpus.pages

  def setup(ctx: Ctx, attempt: Int): Unit = {
    input = ctx.dir(s"bulk/input-$attempt")
    writeInput(ctx, input)
  }

  def writeInput(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    // several files, as a crawl table has: the encode's map side then has
    // enough tasks that one long page does not decide the stage time
    spark.createDataset(corpus.pages).repartition(4 * ctx.cores).write.parquet(dir)
  }

  def inputRows: Long = corpus.pages.length.toLong

  private def encode(ctx: Ctx): Option[String] = {
    val spark = ctx.spark
    import spark.implicits._
    table += 1
    val out = ctx.dir(s"bulk/table-$table")
    ctx.op("load", "encode") {
      val pages = spark.read.parquet(input).as[Page]
      val recs = ctx.layer("graft.spark.EncodeJob.run") {
        EncodeJob.run(spark, pages, out, Workload.cfg(ctx)).collect()
      }
      lastRatio = recs.map(_.bytes_out).sum.toDouble / recs.map(_.bytes_in).sum
      Out(out, recs.map(_.bytes_in).sum)
    }.map(_._2)
  }

  def loadOp(ctx: Ctx): Unit = encode(ctx).foreach(Workload.deleteDir)

  /** Code points of every text plus bytes of every html: what the decode
    * op's aggregate must add up to.
    */
  private val expectedChars = corpus.pages.iterator
    .map(p => p.text.codePointCount(0, p.text.length).toLong + p.html.length).sum
  private val expectedTextChars = corpus.pages.iterator
    .map(p => p.text.codePointCount(0, p.text.length).toLong).sum

  /** A full decode, then a text-only decode of the table at `out`. */
  private def decodes(ctx: Ctx, out: String): Unit = {
    val spark = ctx.spark
    ctx.op("read", "decode") {
      val r = ctx.layer("graft.spark.DecodeJob.run") {
        DecodeJob.run(spark, out).toDF()
          .agg(count(lit(1)), sum(length(col("text")) + length(col("html")))).first()
      }
      Out((r.getLong(0), r.getLong(1)), corpus.rawBytes, r.getLong(0))
    }.foreach { case (id, (rows, chars)) =>
      ctx.verify(id, rows == expected.size && chars == expectedChars,
        s"decode returned $rows rows / $chars chars, expected ${expected.size} / $expectedChars")
    }
    ctx.op("pass", "decode_text") {
      val r = ctx.layer("graft.spark.DecodeJob.decodeProjected") {
        DecodeJob.decodeProjected(spark, out, Seq("text")).agg(count(lit(1)), sum(length(col("text")))).first()
      }
      Out((r.getLong(0), r.getLong(1)), corpus.textBytes, r.getLong(0))
    }.foreach { case (id, (rows, chars)) =>
      ctx.verify(id, rows == expected.size && chars == expectedTextChars,
        s"text-only decode returned $rows rows / $chars chars, expected ${expected.size} / $expectedTextChars")
    }
  }

  /** encode, then (decode, text-only decode) twice: the decodes are short,
    * so each cycle gives them two samples
    */
  val passRounds = 2
  def cycle(ctx: Ctx): Unit = encode(ctx).foreach { out =>
    val spark = ctx.spark
    (0 until passRounds).foreach(_ => decodes(ctx, out))
    // checked in full on the first warm-up cycle: every encode of the
    // input is the same deterministic job, and a full check costs a collect
    if (ctx.cycle == -1) {
      ctx.check("bulk_load decode equals the input per url") {
        val got = DecodeJob.run(spark, out).collect()
        Workload.pageMismatches(expected, if (opts.corrupt) Workload.corrupt(got) else got) == 0
      }
      ctx.check("bulk_load text-only decode equals the input text per url") {
        val got = DecodeJob.decodeProjected(spark, out, Seq("text")).collect()
        got.length == expected.size &&
          got.forall(r => expected.get(r.getString(0)).exists(_.text == r.getString(1)))
      }
    }
    Workload.deleteDir(out)
  }

  def ratio(ctx: Ctx): Double = lastRatio
}

/** FM index over the generated pages' text, closed-loop pattern searches,
  * then MinHash near-duplicate pairs and duplicate-span coverage. Reaches
  * SuffixArrays/FmIndex without the encode exchange, and is the only
  * workload that runs graft.pipeline.
  */
final class TextSearch(opts: Opts) extends Workload {
  val name = "text_search"
  val cycleSeconds = 3.0
  val warmupCycles = 2
  private val corpus = Gen.corpus(opts.seed, if (opts.tiny) 15000 else 50000, 200, lenScale = 80)
  private val texts: IndexedSeq[Array[Byte]] = corpus.pages.map(_.text.getBytes(UTF_8))
  private var input = ""
  private var index = 0
  private var lastIndex = ""
  private val rng = new SplittableRandom(opts.seed * 17 + 3)
  def codecSample: IndexedSeq[Page] = corpus.pages

  def setup(ctx: Ctx, attempt: Int): Unit = {
    input = ctx.dir(s"search/docs-$attempt")
    writeInput(ctx, input)
  }

  def writeInput(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    corpus.pages.indices.map(i => (i.toLong, corpus.pages(i).text)).toDF("id", "text")
      .repartition(4 * ctx.cores).write.parquet(dir)
  }

  def inputRows: Long = corpus.pages.length.toLong

  private def docs(ctx: Ctx) = {
    val spark = ctx.spark
    import spark.implicits._
    spark.read.parquet(input).as[(Long, String)]
  }

  def loadOp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    index += 1
    val out = ctx.dir(s"search/index-$index")
    ctx.op("load", "fm_build") {
      ctx.layer("graft.spark.IndexJob.build") {
        IndexJob.build(spark, docs(ctx).map { case (id, t) => (id.toString, t) }, out)
      }
      Out((), corpus.textBytes)
    }.foreach { _ =>
      if (lastIndex.nonEmpty) Workload.deleteDir(lastIndex)
      lastIndex = out
    }
  }

  /** Four distinct patterns: two words and a word pair cut from the
    * texts, and one that never occurs.
    */
  private def patterns(): Seq[String] = {
    def cut(words: Int): String = {
      val t = corpus.pages(rng.nextInt(corpus.pages.length)).text.split("[ \n]")
      val at = rng.nextInt(math.max(1, t.length - words))
      t.slice(at, at + words).mkString(" ")
    }
    val pats = mutable.LinkedHashSet(cut(2))
    while (pats.size < 3) pats += cut(1)
    (pats += s"zq${rng.nextInt(1000)}xj").toSeq
  }

  private def search(ctx: Ctx): Unit = {
    val pats = patterns()
    ctx.op("read", "fm_search") {
      val spark = ctx.spark
      import spark.implicits._
      val hits = ctx.layer("graft.spark.IndexJob.search") {
        IndexJob.search(spark, lastIndex, pats).select($"doc_key", $"pattern", $"cnt")
          .as[(String, String, Long)].collect()
      }
      Out(hits, corpus.textBytes, hits.count(_._3 > 0).toLong)
    }.foreach { case (id, hits) =>
      val got = hits.map { case (d, p, c) => (d.toInt, p) -> c }.toMap
      val bad = for {
        (t, d) <- texts.zipWithIndex
        p <- pats
        if got.getOrElse((d, p), 0L) != Workload.naiveCount(t, p.getBytes(UTF_8))
      } yield (d, p)
      ctx.verify(id, bad.isEmpty && got.size == texts.length * pats.length,
        s"fm counts differ from a naive count for ${bad.take(3)}")
    }
  }

  private def dedup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.op("pass", "dedup_minhash") {
      val pairs = ctx.layer("graft.pipeline.Dedup.minHashPairs") {
        graft.pipeline.Dedup.minHashPairs(spark, docs(ctx)).select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      Out(pairs, corpus.textBytes, pairs.length.toLong)
    }.foreach { case (id, pairs) =>
      val found = pairs.toSet
      val missed = corpus.nearDupOf.count { case (d, o) => !found((math.min(d, o).toLong, math.max(d, o).toLong)) }
      ctx.verify(id, missed == 0, s"minHashPairs missed $missed planted near-duplicate pairs")
    }
    ctx.op("pass", "dedup_spans") {
      val cov = ctx.layer("graft.pipeline.Dedup.dupSpanCoverage") {
        graft.pipeline.Dedup.dupSpanCoverage(spark, docs(ctx)).select("doc_id", "dup_tokens").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      Out(cov, corpus.textBytes, cov.length.toLong)
    }.foreach { case (id, cov) =>
      val tokens = cov.toMap
      val uncovered = corpus.nearDupOf.keys.count(d => tokens.getOrElse(d.toLong, 0L) <= 0)
      ctx.verify(id, cov.length == texts.length && uncovered == 0,
        s"dupSpanCoverage: ${cov.length} rows, $uncovered planted near-duplicates without duplicate spans")
    }
  }

  val passRounds = 1

  /** fm_build x2, search x4, dedup (minhash + spans). Builds and searches
    * are short, so each cycle gives them several samples.
    */
  def cycle(ctx: Ctx): Unit = {
    (0 until 2).foreach(_ => loadOp(ctx))
    (0 until 4).foreach(_ => search(ctx))
    dedup(ctx)
  }

  def ratio(ctx: Ctx): Double = {
    val r = ctx.spark.read.parquet(lastIndex).agg(sum("index_bytes"), sum("n_bytes")).first()
    r.getLong(0).toDouble / r.getLong(1)
  }
}
