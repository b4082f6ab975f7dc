package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

import graft.codec.ColumnCodec

/** Inverse of [[EncodeJob]]: encoded-chunks table -> pages rows,
  * bit-identical (the BASELINE.json:15 invariant is checked by
  * [[VerifyJob]] on top of this).
  *
  * Every read is the same two steps: [[projectedScan]], the gated scan of
  * the chunks passing a chunk predicate that reads only the payload leaves
  * a read asks for, then [[decodeChunks]], the one chunk kernel. The public
  * reads differ only in their chunk predicate, the columns they ask for
  * and the projection of the kernel's bytes.
  *
  * Plan shape: NO exchange at all. A chunk row is self-contained (all five
  * column payloads in nested columns), so decode is a pure narrow map over
  * the scan — each task decodes the rows of the files it reads. A
  * row-per-column layout would need a shuffle of every compressed payload
  * to regroup chunks (at 100 TB: the entire compressed corpus through the
  * shuffle fabric); this layout removes it by construction. Parquet
  * nested-schema pruning keeps each read to the payload leaves it decodes:
  * a chunk's codec names, byte counts and hashes are never read.
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

  /** The value columns a read can ask for besides `url`. */
  private val ValueCols = Seq("warc_ts", "html", "text", "lang")

  /** The kernel's rows for a [[Page]] read: UTF-8 bytes and epoch micros.
    * `url` is nullable as `Encoders.product[Page]` declares it.
    */
  private val PageBytes = StructType(Seq(
    StructField("url", BinaryType),
    StructField("warc_ts_us", LongType, nullable = false),
    StructField("html", BinaryType),
    StructField("text", BinaryType),
    StructField("lang", BinaryType)))

  def run(spark: SparkSession, outDir: String): Dataset[Page] =
    pages(projectedScan(spark, outDir, ValueCols).head)

  /** The [[Page]] rows of one scan of all four value columns. The
    * String/Timestamp shape is applied by codegen'd cast/timestamp_micros:
    * binary-to-string is a UTF8String wrap, so a downstream SQL consumer
    * (aggregations, filters, writes) never pays the UTF-16 decode +
    * re-encode per value that building Page objects in the kernel would
    * cost; a typed consumer deserializes Page as usual.
    */
  private def pages(scan: DataFrame): Dataset[Page] =
    decodeChunks(scan, PageBytes)
      .select(col("url").cast("string").as("url"),
        timestamp_micros(col("warc_ts_us")).as("warc_ts"),
        col("html"),
        col("text").cast("string").as("text"),
        col("lang").cast("string").as("lang"))
      .as[Page](Encoders.product[Page])

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
    if (urls.isEmpty) return spark.emptyDataset(Encoders.product[Page])
    // home partition per url, via the exact partIdCol expression the
    // encoder used (config recovered from the stored _meta table)
    val pidByUrl: Map[String, Int] = EncodeJob.readMeta(spark, outDir) match {
      case Some(m) =>
        urls.toDF("url").withColumn("part_id", EncodeJob.partIdCol(m))
          .as[(String, Int)].collect().toMap
      case None => Map.empty // pre-meta table: range-only pruning
    }
    val batches = urls.distinct.grouped(LookupUrlsPerScan).toSeq
    val preds = batches.map(_.map { u =>
      val range = col("url_min") <= u && col("url_max") >= u
      pidByUrl.get(u).fold(range)(pid => col("part_id") === pid && range)
    }.reduce(_ || _))
    // one scan per batch, the table gates once for all of them; each batch
    // keeps ITS OWN urls: a chunk whose range covers urls from two batches
    // is decoded by both scans, and a shared full-set filter would then
    // emit those pages twice
    projectedScan(spark, outDir, ValueCols, preds).zip(batches)
      .map { case (scan, batch) => pages(scan).filter(col("url").isin(batch: _*)) }
      .reduce(_ union _)
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
    pages(projectedScan(spark, outDir, ValueCols,
      Seq(col("url_max") >= lo && col("url_min") < hiExclusive)).head)
      .filter(col("url") >= lo && col("url") < hiExclusive)

  /** All pages whose url starts with `prefix` (e.g. a scheme+host slice).
    * The prefix interval `[prefix, succ(prefix))` needs no successor-string
    * computation: a chunk overlaps iff `url_max >= prefix` and `url_min`
    * is below the interval end, i.e. `url_min < prefix` or it has the
    * prefix itself.
    */
  def decodeUrlPrefix(spark: SparkSession, outDir: String, prefix: String): Dataset[Page] =
    pages(projectedScan(spark, outDir, ValueCols,
      Seq(col("url_max") >= prefix &&
        (col("url_min") < prefix || col("url_min").startsWith(prefix)))).head)
      .filter(col("url").startsWith(prefix))

  /** The gated, pruned payload scan every read decodes: one scan of the
    * chunks table per chunk predicate (over the chunk METADATA columns
    * `part_id`/`chunk_id`/`url_min`/`url_max`, never the payloads),
    * selecting `url.payload` as `url_p` and each of `cols` as `<col>_p`.
    * `html` also reads the `text` leaf, which its text slots are spliced
    * from. The reader gates run once for all the scans: a pending swap
    * fails the read, and a table without committed chunks (fully deleted)
    * is an empty table, not a scan error. `private[graft]` so callers and
    * tests can assert on the FileScan's ReadSchema without the decode
    * operators above it in the plan.
    */
  private[graft] def projectedScan(
      spark: SparkSession,
      outDir: String,
      cols0: Seq[String],
      chunkPreds: Seq[Column] = Seq(lit(true))
  ): Seq[DataFrame] = {
    val cols = cols0.distinct // duplicate requests would alias-collide
    require(cols.nonEmpty && cols.forall(ValueCols.contains),
      s"cols must be among ${ValueCols.mkString(", ")}: $cols")
    val leaves = "url" +: (cols ++
      (if (cols.contains("html") && !cols.contains("text")) Seq("text") else Nil))
    EncodeJob.requireNoPendingSwap(spark, outDir)
    if (!EncodeJob.hasCommittedChunks(spark, outDir)) {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(leaves.map(c => StructField(s"${c}_p", BinaryType))))
      return chunkPreds.map(_ => empty)
    }
    chunkPreds.map(p => TableScan.chunks(spark, outDir).filter(p)
      .select(leaves.map(c => col(s"$c.payload").as(s"${c}_p")): _*))
  }

  /** The chunk kernel: each [[projectedScan]] row (one chunk) becomes the
    * chunk's rows of `schema`, whose first field is `url` and the rest any
    * of `warc_ts_us` (epoch micros) and the binary `html`, `text` and
    * `lang` (UTF-8 bytes, null kept). The only decoder of html: its text
    * slots splice from the chunk's decoded text.
    */
  private def decodeChunks(scan: DataFrame, schema: StructType): DataFrame = {
    val valueFields = schema.fieldNames.toSeq.tail
    scan.mapPartitions { it =>
      it.flatMap { r =>
        def payload(c: String) = r.getAs[Array[Byte]](s"${c}_p")
        lazy val texts = ColumnCodec.decodeBinaryNullable(payload("text"))
        val urls = ColumnCodec.decodeBinary(payload("url"))
        val values: Seq[Int => Any] = valueFields.map {
          case "warc_ts_us" => ColumnCodec.decodeLong(payload("warc_ts"))
          case "html" => ColumnCodec.decodeHtml(payload("html"), texts)
          case "text" => texts
          case c => ColumnCodec.decodeBinaryNullable(payload(c))
        }
        urls.indices.iterator.map(i => Row.fromSeq(urls(i) +: values.map(_(i))))
      }
    }(Encoders.row(schema))
  }

  /** Column-projected page decode: rows keyed by url with ONLY the
    * requested payload columns decoded — the "read just the text of the
    * corpus" path a training pipeline actually runs. Parquet nested-schema
    * pruning means the unrequested payload leaves (e.g. html, typically
    * most of the bytes) are never read from storage, and their decode
    * kernels never run. The one exception: `html` also reads and decodes
    * the `text` leaf, which its text slots are spliced from, without
    * returning it. Output schema: `url`, then `warc_ts` as the
    * microseconds-long `warc_ts_us` if asked for, then the other `cols` in
    * the given order as strings, null preserved. No exchange, like [[run]].
    */
  def decodeProjected(spark: SparkSession, outDir: String, cols0: Seq[String]): DataFrame = {
    val cols = cols0.distinct
    val (ts, strs) = cols.partition(_ == "warc_ts")
    val schema = StructType(StructField("url", BinaryType, nullable = false) +:
      (ts.map(_ => StructField("warc_ts_us", LongType, nullable = false)) ++
        strs.map(StructField(_, BinaryType))))
    decodeChunks(projectedScan(spark, outDir, cols).head, schema)
      .select(schema.fields.toSeq.map { f =>
        if (f.dataType == BinaryType) col(f.name).cast("string").as(f.name) else col(f.name)
      }: _*)
  }
}
