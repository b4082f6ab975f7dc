package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.spark.{EncodeConfig, EncodeJob, Page}

/** Structured-Streaming ingestion for the encode pipeline: a stream of
  * pages (file source, Kafka, or any Dataset[Page] stream) lands in ONE
  * encoded table through [[StreamingEncodeJob.startAppending]], the one
  * sink: `foreachBatch` hands each micro-batch to the batch write
  * verbs ([[EncodeJob.append]], or [[EncodeJob.upsert]] for newest-wins),
  * so the batch job's salted partitioning, chunked column codecs and
  * bit-identical decode hold per batch with no duplicated code, and the
  * table serves every reader ([[graft.spark.DecodeJob]]) and maintenance
  * verb as it grows.
  *
  * At scale this is the right shape: each micro-batch is an independent
  * bounded write (one salted exchange, partition-local kernels), so
  * stream throughput scales like the batch job does, and watermark/state
  * machinery is unnecessary — the encode is stateless per page.
  */
object StreamingEncodeJob {

  /** Stream into ONE canonical encoded table via chunk-level append: each
    * micro-batch's genuinely-new urls become new chunk files + lineage
    * rows ([[EncodeJob.append]]; the first batch bootstraps the table).
    * Exactly-once here falls out of IDEMPOTENCE rather than batch-id
    * bookkeeping: a batch re-delivered after a crash dedupes against the
    * stored per-chunk url ranges and encodes nothing — even a crash
    * between the chunk commit and the lineage append only orphans
    * metrics rows, never data (chunk-id offsets come from the chunks
    * table itself). The result is a single table that serves
    * [[graft.spark.DecodeJob.lookupUrls]] / `decodeProjected` directly —
    * the landing-zone-to-queryable-table path a continuous crawl actually
    * needs.
    *
    * Default semantics inherited from [[EncodeJob.append]]: INSERT-ONLY
    * across batches — the first successfully-stored version of a url is
    * final; a later re-crawl of the same url in a later micro-batch is
    * dropped, not updated (within one micro-batch the newest `warc_ts`
    * wins). `newestWins = true` instead routes each micro-batch through
    * [[EncodeJob.upsert]]: a re-crawl of a stored url REPLACES it —
    * per-url atomically, through upsert's single staged `_SWAP` commit
    * (stream-order recency: the last delivered batch containing a url
    * defines its content). Redelivery stays exactly-once by idempotence
    * either way (an upserted batch re-replaces its own stored rows
    * byte-identically). An oversized batch (a backlogged source's
    * catch-up under `Trigger.AvailableNow`) does not fail the query:
    * upsert hash-splits past [[EncodeJob.MaxDeleteUrls]] distinct urls
    * into bounded groups, up to its [[EncodeJob.MaxUpsertUrls]] ceiling.
    *
    * `compactEveryBatches = Some(n)` folds table maintenance into the
    * stream: after every n-th micro-batch, partitions that the appends
    * actually fragmented ([[EncodeJob.fragmentedPartIds]]) are compacted
    * in-stream — appends accumulate tail chunks by design, and without
    * this a long-running stream needs an external maintenance job. The
    * compaction is the exchange-free partition-local rewrite, and its
    * write-ahead swap keeps crash-redelivery safe: a batch re-delivered
    * over a mid-compaction crash first rolls the swap forward (append's
    * entry point does this), then dedupes as usual.
    *
    * `curate` filters/transforms each micro-batch BEFORE it reaches the
    * table — the hook where the curation operators
    * ([[graft.pipeline.Sampling.stratifiedSample]], quality gates,
    * [[graft.pipeline.Dedup.decontaminate]] against a broadcast benchmark
    * set, PII redaction) compose into the ingest path. It must be
    * DETERMINISTIC per row (a pure function of row content, like the
    * operators above): redelivered batches then re-curate identically and
    * exactly-once-by-idempotence is preserved. Stateless per batch by
    * design — cross-batch state belongs to the table itself (append's
    * dedupe, upsert's newest-wins), not the hook.
    */
  def startAppending(
      pages: Dataset[Page],
      tableDir: String,
      checkpointDir: String,
      cfg: EncodeConfig = EncodeConfig(),
      trigger: Trigger = Trigger.AvailableNow(),
      onBatchStart: Long => Unit = _ => (),
      compactEveryBatches: Option[Int] = None,
      compactSlackChunks: Int = 2,
      newestWins: Boolean = false,
      curate: Dataset[Page] => Dataset[Page] = identity
  ): StreamingQuery = {
    require(pages.isStreaming, "StreamingEncodeJob.startAppending needs a streaming Dataset[Page]")
    compactEveryBatches.foreach(n => require(n > 0, s"compactEveryBatches must be > 0: $n"))
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (rawBatch: Dataset[Page], batchId: Long) =>
        onBatchStart(batchId)
        val batch = curate(rawBatch)
        val spark = batch.sparkSession
        if (newestWins) EncodeJob.upsert(spark, batch, tableDir, cfg)
        else EncodeJob.append(spark, batch, tableDir, cfg)
        compactEveryBatches.foreach { n =>
          if ((batchId + 1) % n == 0) {
            val frag = EncodeJob.fragmentedPartIds(spark, tableDir, cfg, compactSlackChunks)
            if (frag.nonEmpty) EncodeJob.compact(spark, tableDir, cfg, Some(frag))
          }
        }
        ()
      }
      .start()
  }

  /** Streaming Dataset[Page] over a directory of staged parquet files —
    * the real micro-batch discovery path (one file per trigger when
    * `maxFilesPerTrigger = 1`). At scale this is the landing-zone pattern:
    * crawl output lands as parquet slices; the stream discovers and
    * encodes them incrementally with the checkpoint tracking which files
    * are done.
    */
  def pagesFileStream(
      spark: SparkSession,
      stagingDir: String,
      maxFilesPerTrigger: Int = 1
  ): Dataset[Page] = {
    import spark.implicits._
    spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Page].schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(stagingDir)
      .as[Page]
  }
}
