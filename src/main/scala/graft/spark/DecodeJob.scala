package graft.spark

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.ColumnCodec

/** Inverse of [[EncodeJob]]: encoded-chunks table -> pages rows,
  * bit-identical (the BASELINE.json:15 invariant is checked by
  * [[VerifyJob]] on top of this).
  *
  * Plan shape: NO exchange at all. A chunk row is self-contained (all five
  * column payloads in nested columns), so decode is a pure narrow map over
  * the scan — each task decodes the rows of the files it reads. A
  * row-per-column layout would need a shuffle of every compressed payload
  * to regroup chunks (at 100 TB: the entire compressed corpus through the
  * shuffle fabric); this layout removes it by construction. Column-pruned
  * reads stay available through parquet nested-schema pruning
  * ([[decodeColumn]] reads only the requested payload leaf).
  *
  * Point/range reads — "give me url X" / "give me host Y's pages", the most
  * common patterns an encoded-pages table serves — go through
  * [[lookupUrls]] / [[decodeUrlRange]] / [[decodeUrlPrefix]]: chunks are
  * url-sorted in-kernel and carry `url_min`/`url_max` columns, so the
  * chunk filter pushes to parquet row-group stats and the payloads of
  * non-covering chunks are never read or decoded. The FM-index locate
  * exists for exactly this reason — random access without full
  * decompression (/root/reference/src/Data/FMIndex.hs:473-474) — and these
  * are its table-level analogue.
  */
object DecodeJob {

  def run(spark: SparkSession, outDir: String): Dataset[Page] =
    decodeChunksWhere(spark, outDir, lit(true))

  /** Decode one self-contained chunk row into raw page fields: UTF-8
    * bytes and epoch micros. The String/Timestamp shape the public
    * Dataset[Page] carries is applied by codegen'd cast/timestamp_micros
    * in [[decodeChunksWhereUnchecked]] — binary-to-string is a UTF8String
    * wrap, so a downstream SQL consumer (aggregations, filters, writes)
    * never pays the UTF-16 decode + re-encode per value that building
    * Page objects here cost; a typed consumer deserializes Page exactly
    * as before.
    */
  private def decodeRowBytes(
      c: EncodedChunk
  ): Iterator[(Array[Byte], Long, Array[Byte], Array[Byte], Array[Byte])] = {
    val urls = ColumnCodec.decodeBinary(c.url.payload)
    val tss = ColumnCodec.decodeLong(c.warc_ts.payload)
    val texts = ColumnCodec.decodeBinaryNullable(c.text.payload)
    val htmls = ColumnCodec.decodeHtml(c.html.payload, texts) // splices text slots
    val langs = ColumnCodec.decodeBinaryNullable(c.lang.payload)
    urls.indices.iterator.map { i =>
      (urls(i), tss(i), htmls(i), texts(i), langs(i))
    }
  }

  /** Decode only the chunks passing `chunkPred` (a predicate over the
    * chunk METADATA columns `part_id`/`chunk_id`/`url_min`/`url_max` —
    * never the payloads).
    */
  private def decodeChunksWhere(
      spark: SparkSession,
      outDir: String,
      chunkPred: Column
  ): Dataset[Page] = {
    EncodeJob.requireNoPendingSwap(spark, outDir)
    // a fully-deleted table has a chunks dir with no data files: that is
    // an empty table, not an error (scanning it would fail schema
    // inference)
    if (!EncodeJob.hasCommittedChunks(spark, outDir))
      return spark.emptyDataset(org.apache.spark.sql.Encoders.product[Page])
    decodeChunksWhereUnchecked(spark, outDir, chunkPred)
  }

  /** [[decodeChunksWhere]] minus the pending-swap / committed-file gates —
    * for callers that issue SEVERAL scans of one table in one call (the
    * batched [[lookupUrls]]) and have already run the gates once: the
    * gates are driver-side remote-FS calls, and re-running them per batch
    * multiplies that listing cost for no added safety within one read.
    */
  private def decodeChunksWhereUnchecked(
      spark: SparkSession,
      outDir: String,
      chunkPred: Column
  ): Dataset[Page] = {
    import spark.implicits._
    TableScan.chunks(spark, outDir)
      .filter(chunkPred)
      .as[EncodedChunk]
      .mapPartitions(_.flatMap(decodeRowBytes))
      .toDF("u", "ts", "html", "t", "l")
      .select(col("u").cast("string").as("url"),
        timestamp_micros(col("ts")).as("warc_ts"),
        col("html"),
        col("t").cast("string").as("text"),
        col("l").cast("string").as("lang"))
      .as[Page]
  }

  /** Point-read fan-in cap for [[lookupUrls]]: its chunk predicate is an
    * OR of one range test per url, which grows linearly — fine for point
    * reads, wrong for sets. Fails loudly past this (like the exact-ANN
    * tier's cap) instead of silently degrading.
    */
  val MaxLookupUrls = 256

  /** Urls per scan inside [[lookupUrls]]. The chunk predicate is an OR of
    * one range test per url; past a couple hundred string literals the
    * whole-stage-codegen'd filter method exceeds the JVM's 64 KB limit and
    * Spark silently falls back to interpreted evaluation FOR THE WHOLE SCAN
    * STAGE. Batching the urls keeps every scan codegen'd (and each batch's
    * pushed row-group predicate tighter); the batches union below.
    * 48 urls = ~150 comparisons per generated method — comfortable margin.
    */
  private val LookupUrlsPerScan = 48

  /** Point lookup: the pages for exactly these urls (absent urls simply
    * yield no row). Two-level pruning:
    *  - part_id is a pure function of (url, stored layout), so each
    *    url's HOME PARTITION is computed up front and the scan opens only
    *    those partition directories (partition pruning proper);
    *  - within them, only chunks whose `[url_min, url_max]` covers the url
    *    are read (pushed to parquet row-group stats).
    * Net: a k-url lookup touches <= k chunks' payloads regardless of table
    * size. Intended for point reads (one range test per url); for url SETS
    * at corpus scale use [[decodeUrlRange]] per host/prefix slice or a
    * join against the decoded url column.
    */
  def lookupUrls(spark: SparkSession, outDir: String, urls: Seq[String]): Dataset[Page] = {
    import spark.implicits._
    require(urls.size <= MaxLookupUrls,
      s"lookupUrls is a point-read API (got ${urls.size} urls, max $MaxLookupUrls): " +
        "for url sets use decodeUrlRange/decodeUrlPrefix per host/prefix slice, " +
        "or join against the decoded url column")
    if (urls.isEmpty) return spark.emptyDataset(
      org.apache.spark.sql.Encoders.product[Page])
    // home partition per url, via the exact partIdCol expression the
    // encoder used (config recovered from the stored _meta table)
    val pidByUrl: Map[String, Int] = EncodeJob.readMeta(spark, outDir) match {
      case Some(m) =>
        urls.toDF("url").withColumn("part_id", EncodeJob.partIdCol(m))
          .as[(String, Int)].collect().toMap
      case None => Map.empty // pre-meta table: range-only pruning
    }
    // table-level gates once, not once per batch scan
    EncodeJob.requireNoPendingSwap(spark, outDir)
    if (!EncodeJob.hasCommittedChunks(spark, outDir))
      return spark.emptyDataset(org.apache.spark.sql.Encoders.product[Page])
    // each batch filters by ITS OWN url subset: a chunk whose range covers
    // urls from two batches is decoded by both scans, and a shared
    // full-set filter would then emit those pages twice
    urls.distinct.grouped(LookupUrlsPerScan).map { batch =>
      val pred = batch.map { u =>
        val range = col("url_min") <= u && col("url_max") >= u
        pidByUrl.get(u) match {
          case Some(pid) => col("part_id") === pid && range
          case None => range
        }
      }.reduce(_ || _)
      val batchSet = batch.toSet
      decodeChunksWhereUnchecked(spark, outDir, pred).filter(p => batchSet.contains(p.url))
    }.reduce(_ union _)
  }

  /** All pages with `lo <= url < hiExclusive` (Catalyst UTF8String binary
    * order — the same order the chunk slices are sorted in). Chunk filter:
    * range overlap on `url_min`/`url_max`, pushed to row-group stats.
    */
  def decodeUrlRange(
      spark: SparkSession,
      outDir: String,
      lo: String,
      hiExclusive: String
  ): Dataset[Page] =
    decodeChunksWhere(spark, outDir, col("url_max") >= lo && col("url_min") < hiExclusive)
      .filter(p => {
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(p.url)
        u.compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(lo)) >= 0 &&
          u.compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(hiExclusive)) < 0
      })

  /** All pages whose url starts with `prefix` (e.g. a scheme+host slice).
    * The prefix interval `[prefix, succ(prefix))` needs no successor-string
    * computation: a chunk overlaps iff `url_max >= prefix` and `url_min`
    * is below the interval end, i.e. `url_min < prefix` or it has the
    * prefix itself.
    */
  def decodeUrlPrefix(spark: SparkSession, outDir: String, prefix: String): Dataset[Page] =
    decodeChunksWhere(spark, outDir,
      col("url_max") >= prefix &&
        (col("url_min") < prefix || col("url_min").startsWith(prefix)))
      .filter(p => p.url.startsWith(prefix))

  /** The pruned payload scan feeding [[decodeProjected]] — separated so
    * callers/tests can assert on the FileScan's ReadSchema without the
    * decode operators above it in the plan.
    */
  private[graft] def projectedScan(
      spark: SparkSession,
      outDir: String,
      cols0: Seq[String]
  ): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val cols = cols0.distinct // duplicate requests would alias-collide
    val valid = Set("warc_ts", "html", "text", "lang")
    require(cols.nonEmpty && cols.forall(valid), s"cols must be among $valid: $cols")
    val wantTs = cols.contains("warc_ts")
    // html's text slots decode from the row's text, so html reads the text
    // leaf too
    val strCols = cols.filterNot(_ == "warc_ts") ++
      (if (cols.contains("html") && !cols.contains("text")) Seq("text") else Nil)
    // one (source column -> output name) list drives both the projection
    // and the empty-table schema, so the two shapes cannot diverge
    val outCols: Seq[(String, String)] =
      Seq("url.payload" -> "url_p") ++
        (if (wantTs) Seq("warc_ts.payload" -> "ts_p") else Nil) ++
        strCols.map(c => s"$c.payload" -> s"${c}_p")
    EncodeJob.requireNoPendingSwap(spark, outDir)
    if (!EncodeJob.hasCommittedChunks(spark, outDir)) {
      // fully-deleted table: empty, not a scan error
      import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(outCols.map { case (_, n) => StructField(n, BinaryType) }))
    }
    TableScan.chunks(spark, outDir)
      .select(outCols.map { case (src, n) => col(src).as(n) }: _*)
  }

  /** Column-projected page decode: rows keyed by url with ONLY the
    * requested payload columns decoded — the "read just the text of the
    * corpus" path a training pipeline actually runs. Parquet nested-schema
    * pruning means the unrequested payload leaves (e.g. html, typically
    * most of the bytes) are never read from storage, and their decode
    * kernels never run. The one exception: `html` also reads and decodes
    * the `text` leaf, which its text slots are spliced from, without
    * returning it. Output schema: `url` plus `cols` in the given order
    * (`warc_ts` as microseconds-long; others as string, null preserved).
    * No exchange, like [[run]].
    */
  def decodeProjected(spark: SparkSession, outDir: String, cols0: Seq[String]): org.apache.spark.sql.DataFrame = {
    val cols = cols0.distinct
    val wantTs = cols.contains("warc_ts")
    val strCols = cols.filterNot(_ == "warc_ts")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    // the kernel emits UTF-8 bytes; the codegen'd cast below wraps them as
    // strings (no per-value UTF-16 decode, as in decodeChunksWhereUnchecked)
    val binSchema = StructType(
      StructField("url", BinaryType, nullable = false) +:
        ((if (wantTs) Seq(StructField("warc_ts_us", LongType, nullable = false)) else Nil) ++
          strCols.map(c => StructField(c, BinaryType, nullable = true))))
    val decoded = projectedScan(spark, outDir, cols).mapPartitions { it =>
      it.flatMap { r =>
        val urls = ColumnCodec.decodeBinary(r.getAs[Array[Byte]]("url_p"))
        val tss = if (wantTs) ColumnCodec.decodeLong(r.getAs[Array[Byte]]("ts_p")) else null
        lazy val texts = ColumnCodec.decodeBinaryNullable(r.getAs[Array[Byte]]("text_p"))
        val strs = strCols.map {
          case "html" => ColumnCodec.decodeHtml(r.getAs[Array[Byte]]("html_p"), texts)
          case "text" => texts
          case c => ColumnCodec.decodeBinaryNullable(r.getAs[Array[Byte]](s"${c}_p"))
        }
        urls.indices.iterator.map { i =>
          Row.fromSeq(urls(i) +: ((if (wantTs) Seq(tss(i)) else Nil) ++ strs.map(_(i))))
        }
      }
    }(Encoders.row(binSchema))
    decoded.select(binSchema.fields.toSeq.map { f =>
      if (f.dataType == BinaryType) col(f.name).cast("string").as(f.name) else col(f.name)
    }: _*)
  }

  /** Decode a single column (positional within (part_id, chunk_id)) —
    * the column-pruned read path: parquet nested-schema pruning reads only
    * the `<colName>.payload` leaf, never the other four payload columns
    * (`html` also reads the `text` leaf its text slots are spliced from).
    */
  def decodeColumn(spark: SparkSession, outDir: String, colName: String): Dataset[(Int, Int, Int, Array[Byte])] = {
    import spark.implicits._
    EncodeJob.requireNoPendingSwap(spark, outDir)
    if (!EncodeJob.hasCommittedChunks(spark, outDir))
      return spark.emptyDataset[(Int, Int, Int, Array[Byte])]
    val isHtml = colName == "html"
    TableScan.chunks(spark, outDir)
      .select($"part_id", $"chunk_id", col(s"$colName.payload").as("payload"),
        if (isHtml) $"text.payload".as("text") else lit(null).cast("binary").as("text"))
      .as[(Int, Int, Array[Byte], Array[Byte])]
      .flatMap { case (pid, cid, payload, text) =>
        val values =
          if (isHtml) ColumnCodec.decodeHtml(payload, ColumnCodec.decodeBinaryNullable(text))
          else ColumnCodec.decodeBinaryNullable(payload)
        values.iterator.zipWithIndex.map { case (v, i) => (pid, cid, i, v) }
      }
  }
}
