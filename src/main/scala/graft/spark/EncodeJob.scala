package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8

import graft.codec.ColumnCodec

/** One column's encoded payload within a chunk row. `payload` is
  * self-describing (ColumnCodec id byte first); `payload_hash` is FNV-1a,
  * computed in-kernel so lineage aggregation never re-scans payload bytes.
  */
final case class ColChunk(
    codec: String,
    bytes_in: Long,
    bytes_out: Long,
    payload_hash: Long,
    payload: Array[Byte]
)

/** One encoded chunk: a url-sorted row slice with ALL FIVE column payloads
  * in one self-contained row. This layout is what makes decode a pure
  * narrow map — no exchange anywhere: a task decodes each row it scans
  * (contrast a row-per-column layout, which must shuffle the compressed
  * payloads to regroup a chunk's columns — at 100 TB that shuffle moves
  * the entire compressed corpus). Column reads stay pruned because the
  * payloads are separate (nested) parquet columns: selecting
  * `text.payload` reads only that leaf.
  */
final case class EncodedChunk(
    part_id: Int,
    chunk_id: Int,
    n_rows: Int,
    url_min: String, // first/last url of the chunk's (url-sorted) row slice:
    url_max: String, // point lookups and range decodes filter chunks on these
    // (pushed to parquet row-group stats) BEFORE touching any payload
    url: ColChunk,
    warc_ts: ColChunk,
    html: ColChunk,
    text: ColChunk,
    lang: ColChunk
) {
  def columns: Seq[(String, ColChunk)] =
    Seq("url" -> url, "warc_ts" -> warc_ts, "html" -> html, "text" -> text, "lang" -> lang)
  def bytesIn: Long = columns.map(_._2.bytes_in).sum
  def bytesOut: Long = columns.map(_._2.bytes_out).sum
  def hashXor: Long = columns.map(_._2.payload_hash).foldLeft(0L)(_ ^ _)
}

/** Per-partition lineage record — the Iceberg-snapshot stand-in demanded by
  * the north rule (BASELINE.json:14: "resumable from checkpoint with
  * per-partition lineage + metrics"; no Iceberg jars ship in
  * /opt/spark/jars, so the same information lives in a `_lineage` parquet
  * table next to the chunks).
  */
final case class LineageRecord(
    part_id: Int,
    n_rows: Long,
    n_chunks: Long,
    bytes_in: Long,
    bytes_out: Long,
    codecs: String, // col=codec[,codec...] summary
    payload_hash: Long, // xor-combined FNV-1a of payloads (symbol-table hash analogue)
    status: String
)

/** One-row health snapshot of an encoded table — see [[EncodeJob.describe]]. */
final case class TableHealth(
    n_rows: Long, // rows stored, summed from chunk metadata
    n_chunks: Long,
    n_parts_live: Int, // partition dirs holding at least one chunk
    n_partitions: Int, // layout config from _meta (0 = wiped/absent table)
    salt_factor: Int,
    chunk_rows: Int,
    fragmented_parts: Int, // partitions fragmentedPartIds would select
    pending_swap: Boolean, // interrupted compaction/delete swap awaiting repair
    writer_lease_held: Boolean // a writer currently holds _writer.lock
)

/** Encode layout, persisted in `_meta` (see [[EncodeJob.readMeta]]): once
  * a table has one, the stored layout governs every later write to it and
  * a caller's differing config is ignored. part_id is a pure function of
  * (url, numPartitions, saltFactor), so a reader who knows these computes
  * any url's home partition and prunes a lookup to ONE partition
  * directory. There is one encode path (see
  * [[EncodeJob.encodeChunkStream]]): text/html are compressed per document
  * before the single salted exchange and containerized per value (the
  * BwtBin container), so the shuffle moves ~ratio x the bytes and the heavy
  * compute runs in the skew-free narrow stage; a spillable sort then feeds
  * the O(chunkRows)-memory streaming kernel. Tables written by older
  * encoders may hold chunk-level text codecs (Dict/Rle/Fsst/Raw) or
  * speed-biased per-value bodies for text/html; the format is
  * self-describing, so every reader and maintenance op still handles them.
  */
final case class EncodeConfig(
    numPartitions: Int = 32,
    // spreads each url-host over this many partitions. 16 (was 4): on
    // host-skewed crawls one mega-host at salt 4 left the largest
    // partition 24x the median (guide §2.5 calls >5-10x actionable),
    // capping decode/compact concurrency at ~1/2; salt 16 measures
    // 3.5x. The cost is range/prefix reads fanning over 16 instead of 4
    // partition dirs per host — point lookups (exact home partition) are
    // unaffected. Layout config, persisted in _meta like before.
    saltFactor: Int = 16,
    chunkRows: Int = 1024 // codec unit; bounds kernel memory at any scale
)

/** The north-rule batch encode: pages -> salted explicit hash partitioning
  * -> per-partition column-chunk encoding (typed mapPartitions kernels) ->
  * encoded-chunks parquet partitioned by part_id + lineage records.
  *
  * Scale design (SURVEY.md §3.1): exactly ONE shuffle (the explicit
  * repartition by salted part_id); everything after is partition-local.
  * part_id is a pure function of the row (not of Spark's physical
  * partitioning), so any failed/missing partition can be recomputed
  * idempotently from the same input — that plus the lineage table is the
  * resume contract. Skew: url-host hot keys are spread over `saltFactor`
  * partitions via a hash-salt on the full url (north rule's salting).
  */
object EncodeJob {

  /** Deterministic salted partition id column for a pages dataset. */
  def partIdCol(cfg: EncodeConfig) = {
    val host = regexp_extract(col("url"), "https?://([^/]+)/", 1)
    val salt = pmod(xxhash64(col("url")), lit(cfg.saltFactor))
    pmod(xxhash64(host, salt), lit(cfg.numPartitions)).cast("int")
  }

  def lineagePath(outDir: String) = s"$outDir/_lineage"
  def chunksPath(outDir: String) = s"$outDir/chunks"
  def metaPath(outDir: String) = s"$outDir/_meta"

  private val metaSchema = org.apache.spark.sql.Encoders.product[EncodeConfig].schema
  private val lineageSchema = org.apache.spark.sql.Encoders.product[LineageRecord].schema

  private def hadoopConf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  /** Persist `cfg` in `_meta`, on the driver. `stored` is what
    * [[readMeta]] returned: when it already equals `cfg` and is the only
    * file, nothing is written. Otherwise the new file is renamed in before
    * the old one is deleted, so a crash at any step leaves `readMeta`
    * returning the old meta or the new one, never none.
    */
  private[spark] def writeMeta(
      spark: SparkSession, outDir: String, cfg: EncodeConfig, stored: Option[EncodeConfig]): Unit = {
    val dir = new org.apache.hadoop.fs.Path(metaPath(outDir))
    if (!stored.contains(cfg) || DriverParquet.dataFiles(hadoopConf(spark), dir).size != 1)
      DriverParquet.replace(hadoopConf(spark), dir, Seq(cfg))
  }

  /** The stored layout, read on the driver (no Spark job). A `_meta` dir
    * without a data file (a crash inside an older writer's
    * delete-then-rewrite, or staging junk only) reads as absent, so the
    * next run rewrites it instead of wedging on an unreadable path. With
    * two files (a crash between [[writeMeta]]'s rename and delete) the
    * newer one is the meta.
    */
  def readMeta(spark: SparkSession, outDir: String): Option[EncodeConfig] =
    DriverParquet.newest(hadoopConf(spark), new org.apache.hadoop.fs.Path(metaPath(outDir)))
      .flatMap(f => DriverParquet.read(hadoopConf(spark), f.getPath, metaSchema).headOption)
      .map(r => EncodeConfig(r.getInt(0), r.getInt(1), r.getInt(2)))

  /** Every row of the lineage table at `dir` (a table's `_lineage`, or the
    * staged records of a swap), read on the driver: files written by Spark
    * and by [[DriverParquet]] alike.
    */
  private def readLineage(spark: SparkSession, dir: String): Seq[LineageRecord] =
    DriverParquet.readAll(hadoopConf(spark),
      new org.apache.hadoop.fs.Path(dir), lineageSchema).map { r =>
      LineageRecord(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getString(5), r.getLong(6), r.getString(7))
    }

  /** Add `records` to `_lineage` as one new file, on the driver. */
  private def appendLineage(spark: SparkSession, outDir: String, records: Seq[LineageRecord]): Unit =
    if (records.nonEmpty)
      DriverParquet.write(hadoopConf(spark), new org.apache.hadoop.fs.Path(lineagePath(outDir)), records)

  /** The layout a write to `outDir` uses, with the stored meta it came
    * from: the stored `_meta` when the table has one, whatever `cfg` says
    * — (part_id, chunk_id) identity and lookup pruning hold only while
    * every write uses the partitioning function the table was built with,
    * and compaction must re-slice with the chunkRows that
    * [[fragmentedPartIds]] measures against. A new table, or one written
    * before `_meta` existed, takes the caller's `cfg`.
    */
  private def layout(
      spark: SparkSession, outDir: String, cfg: EncodeConfig): (EncodeConfig, Option[EncodeConfig]) = {
    val stored = readMeta(spark, outDir)
    (stored.getOrElse(cfg), stored)
  }

  /** True iff the chunks table has at least one COMMITTED data file
    * (staging junk under _temporary / .spark-staging and marker files do
    * not count) — the "does this encoded table exist yet" test.
    */
  private[spark] def hasCommittedChunks(spark: SparkSession, outDir: String): Boolean =
    hasCommittedFileUnder(spark, chunksPath(outDir))

  private[spark] def hasCommittedFileUnder(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val path = f.getPath.toString
      val name = f.getPath.getName
      if (!path.contains("_temporary") && !path.contains(".spark-staging") &&
          !name.startsWith("_") && !name.startsWith(".")) return true
    }
    false
  }

  // ---------------------------------------------------------- writer lease

  /** The single-writer lease file. Every write entry point ([[run]]/
    * [[append]]/[[compact]]/[[delete]]/[[upsert]]/
    * [[completePendingCompactSwap]]) holds it for the duration of the
    * call: the engine's write machinery assumes ONE writer (two concurrent
    * appends would read the same chunk-id offsets and collide on
    * `(part_id, chunk_id)`; a compact racing an append can swap away
    * chunks the append deduped against — the optimistic-snapshot-commit
    * protection Iceberg would provide has no emulation here), so
    * concurrent misuse must fail LOUDLY instead of corrupting the table.
    * Readers are not locked (single-writer / multi-reader).
    */
  def writerLockPath(outDir: String) =
    new org.apache.hadoop.fs.Path(outDir, "_writer.lock")

  /** A lease this much older than now is presumed orphaned by a dead
    * writer (the holder releases in a `finally` AND renews the lock's
    * mtime on a heartbeat every third of this interval while the write
    * runs, so only a JVM kill strands one — a healthy multi-hour
    * compaction never reads as stale) and is broken automatically on the
    * next acquisition.
    */
  val StaleWriterLockMs: Long = 30L * 60 * 1000

  /** Tolerance when comparing a file's server-side mtime against this
    * client's clock in the fenced lease break — covers client/namenode
    * clock skew without reopening a meaningful renewal window.
    */
  private val ClockSkewAllowanceMs: Long = 10000

  // reentrancy registry (qualified lock path -> holding thread): upsert's
  // bootstrap append, append's bootstrap run() and every writer's
  // completePendingCompactSwap re-enter the lease they already hold
  // instead of deadlocking on their own lock file
  private val heldLocks = new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  /** Raw lock-file content, retried through transient FS hiccups (a DN
    * blip on release must not strand a healthy table behind a 30-minute
    * staleness wait). None = missing or unreadable after retries. Opens
    * FIRST and reads to EOF — a stat-then-open pair could race a
    * break+re-create and hand back a silently truncated prefix of the new
    * holder's file, which parses as a uuid that matches nobody.
    */
  private def readLockFile(
      fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path
  ): Option[String] = {
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(lock)
        try {
          val bos = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](4096)
          var n = in.read(buf)
          while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
          return Some(new String(bos.toByteArray, UTF_8))
        } finally in.close()
      } catch {
        case _: java.io.FileNotFoundException => return None
        case _: java.io.IOException if attempt < 2 =>
          attempt += 1; Thread.sleep(50)
        case _: java.io.IOException => return None
      }
    }
    None // unreachable
  }

  /** The ONE uuid-line parser — renewal, release, and the fenced break
    * must never disagree about a lock file's ownership format.
    */
  private def parseLockUuid(content: String): Option[String] =
    content.split('\n').find(_.startsWith("uuid=")).map(_.stripPrefix("uuid="))

  /** The acquisition uuid stored in the lock file — ownership proof, so a
    * writer only ever renews/releases ITS OWN lease (never one that an
    * operator force-broke and another writer re-acquired).
    */
  private def readLockUuid(
      fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path
  ): Option[String] =
    readLockFile(fs, lock).flatMap(parseLockUuid)

  /** Manually clear an orphaned writer lease (a crashed writer's lock also
    * goes stale on its own after [[StaleWriterLockMs]]). Returns true if a
    * lock file was removed.
    */
  def breakWriterLock(spark: SparkSession, outDir: String): Boolean = {
    val fs = chunksFs(spark, outDir)
    fs.delete(writerLockPath(outDir), false)
  }

  /** Acquire the writer lease (create-no-overwrite of the lock file —
    * atomic on HDFS; on the local FS it is check-then-create, so a
    * same-instant double-acquire is additionally guarded by the uuid
    * read-back below), run `body`, release. While held, a daemon
    * heartbeat renews the lock's mtime every `StaleWriterLockMs / 3` so a
    * long-running write (a multi-hour corpus compaction) never reads as
    * stale to a contender. Renewal and release are OWNERSHIP-CHECKED: a
    * writer only touches a lock file that still carries its own
    * acquisition uuid, so if an operator force-broke the lease and
    * another writer took it, the first writer's release cannot delete the
    * second's lock. Reentrant per thread. Acquisition of a held lease
    * fails with a named error rather than blocking — the caller's
    * orchestration is wrong, and waiting would only serialize the
    * corruption hazard, not remove it.
    */
  private[graft] def withWriterLock[T](spark: SparkSession, outDir: String)(body: => T): T = {
    val fs = chunksFs(spark, outDir)
    val lock = writerLockPath(outDir)
    val key = fs.makeQualified(lock).toString
    val me = Thread.currentThread()
    if (heldLocks.get(key) eq me) return body // reentrant inner call
    // in-JVM gate FIRST (putIfAbsent is atomic): two threads of one JVM
    // contending for the same table serialize here exactly, never
    // reaching the FS create — which on the local FS is check-then-create
    // and only probabilistically guarded by the uuid read-back. The lock
    // FILE remains the cross-JVM guard (create-no-overwrite is atomic on
    // HDFS). A force-broken lease does NOT abort the in-flight body (a
    // running Spark job can't be safely interrupted from a heartbeat);
    // ownership-checked renewal/release merely keeps that writer from
    // ever touching the new holder's lock.
    val prev = heldLocks.putIfAbsent(key, me)
    if (prev != null)
      throw new IllegalStateException(
        s"another writer holds the lease on encoded table $outDir " +
          s"[in-process thread ${prev.getName}]: concurrent writes are unsupported")
    val uuid = java.util.UUID.randomUUID().toString
    // the in-JVM entry is ours from the putIfAbsent above until the
    // OUTERMOST finally below: any failure path that leaked it would make
    // this thread's next call take the reentrant fast path and write
    // without the FS lock at all, while locking every other thread of the
    // JVM out of the table forever (the 30-min staleness self-heal never
    // runs because the in-JVM gate throws before the FS path is reached)
    try {
      def tryAcquire(attempt: Int = 0): Boolean =
        try {
          fs.mkdirs(new org.apache.hadoop.fs.Path(outDir))
          val out = fs.create(lock, false) // fails if the file exists
          out.write((s"app=${spark.sparkContext.applicationId} thread=${me.getName} " +
            s"ts=${System.currentTimeMillis()}\nuuid=$uuid\n").getBytes(UTF_8))
          out.close()
          // read-back closes the stale-break race: if another contender
          // replaced the file between our create and here, back off
          // (without deleting THEIR lock)
          readLockUuid(fs, lock) match {
            case Some(u) => u == uuid
            case None =>
              // unreadable content: EITHER our own write was lost (the
              // file is a stranded, never-heartbeated lock that would
              // block the table for the whole staleness window) OR — on
              // the local FS, where create(false) is check-then-create —
              // a racing contender is mid-write over the same path.
              // Distinguish by PERSISTENCE: any in-flight write settles
              // in milliseconds, so pause and re-read; readable content
              // then names the winner (deleting here would remove the
              // contender's VALID lock and double-acquire the lease).
              // Only a persistently unreadable file is stranded junk.
              Thread.sleep(3000)
              readLockUuid(fs, lock) match {
                case Some(u) => u == uuid
                case None =>
                  try fs.delete(lock, false) catch { case _: java.io.IOException => () }
                  attempt == 0 && tryAcquire(attempt + 1)
              }
          }
        } catch { case _: java.io.IOException => false }
      var acquired = tryAcquire()
      if (!acquired) {
        // the verdict is formed on BOTH the mtime and the content of the
        // lock: content (the acquisition uuid is random per lease) is the
        // rename-mechanism-independent identity used to re-check the
        // capture below — mtime would misjudge on object stores whose
        // rename is copy-based and refreshes timestamps
        val seenContent = readLockFile(fs, lock)
        val stale =
          try System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime > StaleWriterLockMs
          catch { case _: java.io.FileNotFoundException => true } // holder just released
        if (stale) {
          // FENCED break: rename the stale file aside instead of deleting
          // it — rename is atomic, so of several contenders exactly one
          // captures the file. But the rename captures whatever the lock
          // IS at that instant, which may no longer be the file the
          // staleness verdict was formed on (another contender can break
          // and re-CREATE, or the judged holder's stalled heartbeat can
          // revive, in our check-to-rename window). The break stands only
          // if BOTH hold for the capture:
          //  - content identity: byte-equal to the judged file (uuid is
          //    random per lease; an unreadable judged file must capture
          //    unreadable too). Rename-mechanism-independent.
          //  - verdict stability: the aside's mtime is still stale
          //    (rename-mtime-preserving backends: a revival's setTimes
          //    shows as a FRESH preserved mtime -> undo) OR is the rename
          //    itself (copy-based-rename backends refresh mtime to now;
          //    >= our rename start minus clock-skew allowance carries no
          //    renewal signal, and rejecting it would permanently disable
          //    self-heal there — a revival landing inside the copy or the
          //    skew allowance is the residual, accepted window: a holder
          //    silent for 30 minutes whose revival misses a ~10 s race,
          //    which the pre-fence break broke unconditionally).
          // Anything else is somebody's live lease: renamed straight back.
          val aside = new org.apache.hadoop.fs.Path(outDir, s"_writer.lock.stale.$uuid")
          val renameStart = System.currentTimeMillis()
          val broke = try fs.rename(lock, aside) catch { case _: java.io.IOException => false }
          val keepBreak = broke && readLockFile(fs, aside) == seenContent && {
            try {
              val m = fs.getFileStatus(aside).getModificationTime
              System.currentTimeMillis() - m > StaleWriterLockMs ||
                m >= renameStart - ClockSkewAllowanceMs
            } catch { case _: java.io.IOException => false }
          }
          if (broke && !keepBreak) {
            // we yanked a live lease: restore it. If the slot was already
            // re-taken by a third contender the restore fails — leave the
            // aside in place rather than deleting the yanked holder's
            // lease record (it ages into the staleness-gated sweep), and
            // do not acquire.
            try { fs.rename(aside, lock); () }
            catch { case _: java.io.IOException => () }
          } else {
            if (keepBreak) { try fs.delete(aside, false) catch { case _: java.io.IOException => () } }
            // whether or not our rename won: retry the create — either the
            // winner hasn't re-created yet (we race it through
            // create-no-overwrite + uuid read-back, at most one survives)
            // or it has and our create fails cleanly
            acquired = tryAcquire()
          }
        }
      }
      if (!acquired) {
        val holder = readLockFile(fs, lock).map(_.replace('\n', ' ')).getOrElse("unreadable")
        throw new IllegalStateException(
          s"another writer holds the lease on encoded table $outDir [$holder]: " +
            "concurrent writes are unsupported (chunk-id allocation and the _SWAP " +
            "machinery assume a single writer) — if the holder is dead, " +
            "EncodeJob.breakWriterLock clears the lease (it also goes stale after " +
            s"${StaleWriterLockMs / 60000} min without heartbeat renewal)")
      }
      // the FS lease is ours: everything from here on runs under the
      // release finally, so even a thread-exhausted renewer creation or a
      // non-IO sweep failure cannot strand the lock file
      try {
        // sweep aside-files orphaned by a breaker that crashed between its
        // rename and delete (or whose live-lease restore lost the slot) —
        // clutter that would accumulate on a table written for years.
        // STALENESS-GATED: the files that must NOT be swept are captures
        // of a LIVE lease awaiting restore, and those read fresh on every
        // backend (preserve-rename keeps the heartbeat-renewed mtime;
        // copy-rename refreshes to now). A stale-mtime aside can only be
        // a dead writer's record — on preserve-rename backends that
        // includes a contender's in-flight capture of a STALE lock, whose
        // deletion is harmless: we hold the lease, so that contender's
        // acquisition fails (correctly) either way.
        try fs.listStatus(new org.apache.hadoop.fs.Path(outDir)).toSeq
          .filter(s => s.getPath.getName.startsWith("_writer.lock.stale.") &&
            System.currentTimeMillis() - s.getModificationTime > StaleWriterLockMs)
          .foreach(s => fs.delete(s.getPath, false))
        catch { case _: java.io.IOException => () }
        // per-lease daemon renewer (not a shared single-thread pool): one
        // renewal hanging on a stalled FS call must not starve the
        // heartbeat of every OTHER lease this JVM holds — a healthy
        // multi-hour write on a healthy table would read as stale because
        // an unrelated namenode hung. Leases are per-write-call, so one
        // short-lived thread each is cheap; shutdownNow also interrupts an
        // in-flight hung renewal rather than letting cancel(false) leave
        // it running forever.
        val renewer =
          java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
            val t = new Thread(r, s"graft-writer-lease-renewer-$uuid"); t.setDaemon(true); t
          })
        try {
          renewer.scheduleAtFixedRate(() => {
            try if (readLockUuid(fs, lock).contains(uuid))
              fs.setTimes(lock, System.currentTimeMillis(), -1)
            catch { case _: Throwable => () } // renewal is best-effort
          }, StaleWriterLockMs / 3, StaleWriterLockMs / 3, java.util.concurrent.TimeUnit.MILLISECONDS)
          body
        } finally renewer.shutdownNow()
      } finally {
        // release unless the lock is provably NOT ours: a readable file
        // carrying another uuid — or carrying NO uuid line at all (a
        // foreign fence file, or another writer's partially-visible
        // create after our lease was force-broken) — stays. A missing or
        // unreadable-after-retries lock is released: refusing would
        // strand the common success path behind a 30-minute staleness
        // wait on a transient read hiccup, while the misdelete it risks
        // needs a force-break of OUR lease (>30 min heartbeat stall) to
        // coincide with a persistent read failure outlasting the retries.
        val foreign =
          readLockFile(fs, lock).exists(c => !parseLockUuid(c).contains(uuid))
        if (!foreign)
          try fs.delete(lock, false) catch { case _: java.io.IOException => () }
      }
    } finally heldLocks.remove(key)
  }

  /** The one chunk writer, shared by every path that writes chunk rows
    * (bootstrap, append, the staged rewrite of compaction/delete/upsert),
    * so neither the physical format nor the lineage bookkeeping can
    * diverge between them. `chunks` builds the stream around the kernel's
    * per-part callback; the lineage records the kernel emits while it
    * encodes are collected through an accumulator and returned, sorted by
    * part. There is no post-hoc re-scan of the written chunks. The
    * accumulator only reaches the driver when the write action commits, so
    * a returned record implies its part's chunks are durable. `distinct`:
    * stage retries can double-add, and records are deterministic.
    */
  private def writeChunks(
      spark: SparkSession,
      path: String,
      mode: SaveMode,
      dynamicPartitionOverwrite: Boolean = false
  )(chunks: (LineageRecord => Unit) => Dataset[EncodedChunk]): Seq[LineageRecord] = {
    val acc = new org.apache.spark.util.CollectionAccumulator[LineageRecord]
    spark.sparkContext.register(acc, "graft_lineage")
    val w = chunks(r => acc.add(r)).toDF().write.mode(mode)
      .option("parquet.enable.dictionary", "false") // payloads are ~MB blobs
      .option("parquet.block.size", (16 * 1024 * 1024).toString) // bound writer memory
      .option("compression", "none") // payloads are already codec-compressed
    // writer-scoped, NOT spark.conf.set: mutating the session conf would
    // silently change the semantics of the caller's own later overwrites
    (if (dynamicPartitionOverwrite) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("part_id")
      .parquet(path)
    import scala.jdk.CollectionConverters._
    acc.value.asScala.toSeq.distinct.sortBy(_.part_id)
  }

  /** Part ids already completed according to the lineage table. */
  def donePartIds(spark: SparkSession, outDir: String): Set[Int] =
    readLineage(spark, lineagePath(outDir)).filter(_.status == "done").map(_.part_id).toSet

  /** Encode all not-yet-done partitions; returns the lineage records of
    * this run. Idempotent: re-running after a partial failure encodes only
    * the missing part_ids and overwrites only their output directories
    * (dynamic partition overwrite).
    */
  def run(
      spark: SparkSession,
      pages: Dataset[Page],
      outDir: String,
      cfg: EncodeConfig = EncodeConfig()
  ): Dataset[LineageRecord] = withWriterLock(spark, outDir) {
    import spark.implicits._

    val (effCfg, stored) = layout(spark, outDir, cfg)
    completePendingCompactSwap(spark, outDir)
    writeMeta(spark, outDir, effCfg, stored)
    val done = donePartIds(spark, outDir)
    val withPart = pages.withColumn("part_id", partIdCol(effCfg))
    val todo =
      if (done.isEmpty) withPart
      else withPart.filter(!$"part_id".isin(done.toSeq: _*))

    // one shuffle; chunk layout determinism comes from the Catalyst
    // (part_id, url) sort inside encodeChunkStream. O(partitions) tiny
    // lineage rows: one file, written on the driver
    val records = writeChunks(spark, chunksPath(outDir), SaveMode.Overwrite,
      dynamicPartitionOverwrite = true)(encodeChunkStream(todo, effCfg, _))
    appendLineage(spark, outDir, records)
    // return THIS run's records; the full table lives at lineagePath
    spark.createDataset(records)
  }

  def compactTmpPath(outDir: String) = chunksPath(outDir) + "_compact_tmp"
  private def swapMarkerPath(outDir: String) =
    new org.apache.hadoop.fs.Path(compactTmpPath(outDir), "_SWAP")
  // the complete `_lineage` a staged swap installs
  private def stagedLineageTablePath(outDir: String) = compactTmpPath(outDir) + "/_lineage_next"
  // only in the staging dir of a swap marked by an older binary: its
  // kernel records alone
  private def stagedLineagePath(outDir: String) = compactTmpPath(outDir) + "/_lineage"

  private def chunksFs(spark: SparkSession, outDir: String) =
    new org.apache.hadoop.fs.Path(chunksPath(outDir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Rewrite partitions into fresh optimal layout: re-sort each selected
    * partition's rows by url, re-slice into full chunkRows chunks, and swap
    * the partition directories — the table-maintenance pass that undoes
    * append fragmentation. After N appends a partition holds up to N
    * generations of small tail chunks; lookups then probe several
    * range-overlapping chunks per url and scans pay per-file overhead.
    * Compaction restores the bootstrap layout invariants: one url-sorted
    * chunk sequence per partition with disjoint url ranges. Decode output
    * is bit-identical before vs after; lineage rows of compacted
    * partitions are REPLACED so metrics reflect the new layout.
    *
    * Plan shape — NO exchange, and NO re-compression:
    *  - ONE chunks scan, partition-pruned to the selected `part_id` dirs
    *    and coalesced into ONE task, which rewrites the selected
    *    partitions one after another (every page already sits in its home
    *    partition — part_id is a pure row function — so there is nothing
    *    to shuffle; the old implementation re-ran the full encode pipeline
    *    and paid an exchange of every decoded payload). A parallel rewrite
    *    would need an exchange or one job per partition;
    *  - within that task, the stored per-value compressed bodies of text/html
    *    are EXTRACTED from their containers and re-containerized as-is
    *    ([[ColumnCodec.extractBwtBodies]]): both the per-value encoder and
    *    the container are deterministic, so the result is byte-identical
    *    to a fresh encode of the same rows while skipping all BWT/SA work
    *    — compaction costs about as much as a decode, not an encode.
    *    Stored bodies are reused whatever per-value codec wrote them, so a
    *    table written with the since-removed speed-biased policy keeps its
    *    fast-coded bodies. Caveat: body reuse applies to per-value
    *    (BwtBin-container) payloads, which is all the current encoder
    *    writes. Tables written before the raw-row path was removed may
    *    hold chunk-level Dict/Rle/Fsst/Raw text/html payloads; those chunks
    *    fall back to decode + per-value re-encode, converting them to the
    *    per-value form (full BWT cost for them — decode stays
    *    bit-identical, compressed size may differ);
    *  - the narrow spillable `sortWithinPartitions` + the streaming kernel
    *    keep task memory at O(chunkRows) even for an oversized partition.
    *
    * Crash safety (write-ahead staging, never in-place): new chunks are
    * written to `chunks_compact_tmp`, with the table's new `_lineage`
    * (the kernel's records for the rewritten partitions, the others' rows
    * carried over); only after both are durable is a `_SWAP` marker
    * (listing the part ids) created and the partition directories swapped
    * one rename at a time, then the staged lineage is renamed in and the
    * staging dir is removed. A crash BEFORE the
    * marker leaves the live table untouched (stale staging is discarded on
    * the next write); a crash AFTER it is rolled forward — the marker
    * proves the staging dir is complete — by
    * [[completePendingCompactSwap]], which every write entry point runs
    * first. Readers fail fast on a pending marker
    * ([[requireNoPendingSwap]]) instead of silently seeing a half-swapped
    * table.
    */
  def compact(
      spark: SparkSession,
      outDir: String,
      cfg: EncodeConfig = EncodeConfig(),
      partIds: Option[Seq[Int]] = None
  ): Dataset[LineageRecord] = withWriterLock(spark, outDir) {
    import spark.implicits._
    // re-slice with the STORED chunkRows — compacting with a caller's
    // divergent chunkRows would rewrite the table into a layout the
    // selection metric permanently disagrees with (every partition reads
    // as fragmented forever, and an in-stream compaction hook would
    // re-compact the whole table on every interval without converging)
    val (effCfg, _) = layout(spark, outDir, cfg)
    completePendingCompactSwap(spark, outDir)

    val fs = chunksFs(spark, outDir)
    val root = new org.apache.hadoop.fs.Path(chunksPath(outDir))
    val present: Seq[Int] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("part_id="))
        .map(_.getPath.getName.stripPrefix("part_id=").toInt)
        .sorted
    val selected: Seq[Int] = partIds match {
      case Some(ps) => present.filter(ps.toSet)
      case None => present
    }
    if (selected.isEmpty) return spark.emptyDataset[LineageRecord]

    // compaction never empties a partition: every selected part's staged
    // output must exist before the swap intent is recorded
    spark.createDataset(stageAndSwap(spark, outDir, selected,
      compactedChunkStream(spark, outDir, effCfg, selected, _), mayDrop = false))
  }

  /** The stage -> mark -> swap commit of [[compact]], [[delete]] and
    * [[upsert]]: `rewritten` (the new content of `parts`, built around the
    * kernel's per-part lineage callback) goes to the staging dir, never
    * over live dirs. A part with no staged output was emptied and is
    * recorded as a drop (refused unless `mayDrop`). The complete
    * replacement `_lineage` (the other parts' rows folded, the kernel's
    * records, a tombstone per drop) is staged next to the chunks. The
    * `_SWAP` marker then commits chunks and lineage together (roll-forward
    * from there on) and [[finishSwap]] renames them in. Returns the
    * swapped parts' records. `phase` sees "staged", "marked", "swapped".
    */
  private def stageAndSwap(
      spark: SparkSession,
      outDir: String,
      parts: Seq[Int],
      rewritten: (LineageRecord => Unit) => Dataset[EncodedChunk],
      mayDrop: Boolean,
      phase: String => Unit = _ => ()
  ): Seq[LineageRecord] = {
    val fs = chunksFs(spark, outDir)
    val tmp = new org.apache.hadoop.fs.Path(compactTmpPath(outDir))
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val records = writeChunks(spark, compactTmpPath(outDir), SaveMode.Overwrite)(rewritten)
    val actions = parts.map(pid =>
      (pid, !fs.exists(new org.apache.hadoop.fs.Path(tmp, s"part_id=$pid"))))
    for ((pid, drop) <- actions)
      require(mayDrop || !drop, s"staged output missing for part $pid — refusing to swap")
    val swapped = (records ++ tombstones(actions)).sortBy(_.part_id)
    stageLineageTable(spark, outDir, swapped)
    phase("staged")
    writeSwapMarker(fs, outDir, actions)
    phase("marked")
    finishSwap(spark, outDir, actions)
    phase("swapped")
    swapped
  }

  /** Driver-side url-list bound for [[delete]]/[[upsert]]: the url set is
    * broadcast to the rewrite tasks and mapped to home partitions on the
    * driver, so it must stay modest. Corpus-scale removals should batch
    * (each call is idempotent), and bulk refresh pipelines should prefer
    * partition rebuilds.
    */
  val MaxDeleteUrls = 100000

  /** Remove `urls` from the table — the lifecycle's missing verb (takedown
    * and data-subject-removal requests are routine against a web corpus).
    * Partition-local like [[compact]]: only each url's HOME partition is
    * rewritten (and only if one of its chunks' `[url_min, url_max]` ranges
    * actually covers the url — deleting absent urls is a no-op that
    * touches nothing), via the same exchange-free body-reuse pipeline with
    * the urls filtered out between extract and re-slice. A partition whose
    * every row is deleted is removed outright (chunk dir + lineage row).
    * Crash-safe through the same staging + `_SWAP` + roll-forward
    * machinery ("pid:drop" marker entries record intentional removals).
    * After a delete, re-ingesting the same url (append/stream) stores it
    * again — deletion makes the url absent, not banned.
    */
  def delete(
      spark: SparkSession,
      outDir: String,
      urls: Seq[String],
      cfg: EncodeConfig = EncodeConfig()
  ): Dataset[LineageRecord] = withWriterLock(spark, outDir) {
    import spark.implicits._
    val distinctUrls = urls.distinct
    require(distinctUrls.size <= MaxDeleteUrls,
      s"delete is bounded at $MaxDeleteUrls distinct urls per call " +
        s"(got ${distinctUrls.size}); batch larger removals")
    val (effCfg, meta) = layout(spark, outDir, cfg)
    completePendingCompactSwap(spark, outDir)
    if (distinctUrls.isEmpty || !hasCommittedChunks(spark, outDir))
      return spark.emptyDataset[LineageRecord]

    // home partitions that ACTUALLY contain at least one of the urls
    val affected = presentHomePairs(spark, outDir, distinctUrls, meta).map(_._1).distinct.sorted
    if (affected.isEmpty) return spark.emptyDataset[LineageRecord]

    // a partition the delete fully emptied is recorded as a drop, so
    // roll-forward removes it too
    spark.createDataset(stageAndSwap(spark, outDir, affected,
      compactedChunkStream(spark, outDir, effCfg, affected, _, dropUrls = distinctUrls.toSet),
      mayDrop = true))
  }

  /** The (partition, url) pairs for every url in `distinctUrls` that is
    * ACTUALLY stored — i.e. where each url lives right now. The chunk url
    * ranges alone over-approximate (a range can straddle an absent url),
    * so the urls of range-covering chunks are decoded — the url payload
    * leaf only, exactly append's dedupe scan — making delete-of-absent a
    * true no-op (routine for redelivered takedown batches: re-running a
    * delete must not rewrite anything). The home-partition constraint
    * applies only when the STORED meta is available — computing it from
    * the caller's cfg on a pre-meta table could map a url to the wrong
    * partition and silently skip it. With meta, the home part ids are
    * known driver-side, so the scan itself is partition-pruned to the
    * home dirs (the join condition alone would not push down as a
    * PartitionFilter). Shared by [[delete]] and [[upsert]] (which homes
    * replacement rows at the STORED location, so per-url atomicity holds
    * even on a pre-meta table whose layout disagrees with the caller's
    * cfg). Driver-side result, bounded by the callers' url caps.
    */
  private def presentHomePairs(
      spark: SparkSession,
      outDir: String,
      distinctUrls: Seq[String],
      meta: Option[EncodeConfig]
  ): Seq[(Int, String)] = {
    import spark.implicits._
    val (covering, targets) = presenceScan(spark, outDir, distinctUrls, meta)
    val stored = covering.select($"part_id", $"payload").as[(Int, Array[Byte])]
      .flatMap { case (pid, p) =>
        ColumnCodec.decodeBinary(p).iterator.map(b => (pid, new String(b, UTF_8)))
      }.toDF("part_id", "url")
    stored.join(targets,
        stored("url") === $"d_url" && ($"d_part".isNull || stored("part_id") === $"d_part"),
        "left_semi")
      .select($"part_id", $"url").distinct().as[(Int, String)].collect().toSeq.sorted
  }

  /** The range-covering chunk rows (url payload leaf only) for a presence
    * check, plus the `(d_url, d_part)` targets they were joined against.
    * `private[graft]` so the join-strategy contract below is pinnable by a
    * plan-shape spec without executing a delete.
    */
  private[graft] def presenceScan(
      spark: SparkSession,
      outDir: String,
      distinctUrls: Seq[String],
      meta: Option[EncodeConfig]
  ): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val (targets, homePids) = meta match {
      case Some(m) =>
        // evaluate partIdCol ONCE, driver-side (lookupUrls' pattern): the
        // pairs feed both the join targets and the scan's partition filter
        val pairs = distinctUrls.toDF("url")
          .withColumn("part_id", partIdCol(m))
          .as[(String, Int)].collect()
        (spark.createDataset(pairs.toIndexedSeq).toDF("d_url", "d_part"),
          Some(pairs.map(_._2).distinct.toSeq))
      case None =>
        (distinctUrls.toDF("url")
          .select($"url".as("d_url"), lit(null).cast("int").as("d_part")), None)
    }
    val urlChunks = {
      val scan = TableScan.chunks(spark, outDir)
      homePids.fold(scan)(ps => scan.filter($"part_id".isin(ps: _*)))
    }.select($"part_id", $"url_min", $"url_max", $"url.payload".as("payload"))
    // meta known -> every target has its home pid, so part_id is a plain
    // EQUI key and the range test a residual: Catalyst plans a (broadcast)
    // hash join where each chunk row scans only ITS partition's urls —
    // O(urls/P) per chunk, vs O(all urls) under a nested-loop join. The
    // split is explicit so the equi key does not hang on d_part's
    // nullability (a folded `d_part.isNull || part_id === d_part` form
    // turns nested-loop once d_part is nullable); the range-only form is
    // for pre-meta tables (BENCH/BASELINE.md §Presence-check equi-join A/B).
    val range = $"d_url" >= $"url_min" && $"d_url" <= $"url_max"
    val covering =
      if (homePids.isDefined)
        urlChunks.join(targets, col("part_id") === $"d_part" && range, "left_semi")
      else urlChunks.join(targets, range, "left_semi")
    (covering, targets)
  }

  /** Distinct-url ceiling for one [[upsert]] call. Above [[MaxDeleteUrls]]
    * the url set is split into hash groups upserted one at a time (each
    * group's delete+insert is idempotent and per-url atomic), so a
    * backlogged catch-up micro-batch under `newestWins` streaming degrades
    * to more groups instead of permanently failing the query; past THIS
    * ceiling the refresh is a bulk rebuild in disguise and fails loudly
    * (rebuild the affected partitions with [[run]] instead).
    */
  val MaxUpsertUrls: Int = 20 * MaxDeleteUrls

  /** Test seam: observes upsert's commit phases ("staged" = rewrite fully
    * staged, marker not yet written; "swapped" = replaced urls live, the
    * new urls' tail write still pending). Specs use it to read the table
    * mid-upsert and to inject crashes between the phases.
    */
  private[graft] var upsertPhaseHook: String => Unit = _ => ()

  // test seams: shrink the bound/group size so the error path and the
  // hash-group split run at spec scale (production constants are 100k/2M)
  private[graft] var maxUpsertUrlsForTest: Option[Int] = None
  private[graft] var upsertGroupSizeForTest: Option[Int] = None

  /** Explicit newest-wins refresh — the escape hatch from [[append]]'s
    * INSERT-ONLY semantics: the stored versions of the delta's urls are
    * replaced by the delta's rows regardless of what was stored.
    *
    * Atomic per url (old-or-new, never neither): the replacement does NOT
    * go through separate delete-then-append commits — the affected home
    * partitions are rewritten (stored rows minus the delta's urls, PLUS
    * the delta's rows homed there) into the write-ahead staging dir and
    * swapped in through ONE `_SWAP` commit, so a concurrent reader sees a
    * refreshed url's old version until the swap and its new version after
    * it. Delta rows whose urls are not stored are brand-new; after the
    * swap they are written as new tail chunks of their home partitions
    * (absent -> present), with chunk ids past each partition's stored
    * ones and their own lineage rows, as [[append]] writes them.
    * A crash anywhere is repaired by the usual roll-forward plus
    * re-running the same upsert (idempotent: every url an earlier run
    * stored, replaced or inserted, rewrites byte-identically).
    *
    * Bounded at [[MaxUpsertUrls]] distinct urls, enforced BEFORE any
    * driver-side url collect; beyond [[MaxDeleteUrls]] the work is split
    * into hash groups of at most that size.
    */
  def upsert(
      spark: SparkSession,
      delta: Dataset[Page],
      outDir: String,
      cfg: EncodeConfig = EncodeConfig()
  ): Dataset[LineageRecord] = withWriterLock(spark, outDir) {
    import spark.implicits._
    completePendingCompactSwap(spark, outDir)
    // persist once: every later step (bound check, url collect, staged
    // rewrite, new-url tail write) re-reads the deduped delta — without
    // this, each one re-runs the dedupe window AND re-scans the source
    val deduped = dedupeDelta(delta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // bound BEFORE collecting urls to the driver: the limit caps what
      // the count materializes, so an oversized delta fails loudly
      // instead of OOMing the driver on the way to the bound check
      val ceiling = maxUpsertUrlsForTest.getOrElse(MaxUpsertUrls)
      val groupSize = upsertGroupSizeForTest.getOrElse(MaxDeleteUrls)
      val nUrls = deduped.select($"url").limit(ceiling + 1).count()
      require(nUrls <= ceiling,
        s"upsert is bounded at $ceiling distinct urls per call (delta has more): " +
          "a refresh this size is a bulk rebuild — re-encode the affected partitions " +
          "with run() instead")
      spark.createDataset(
        if (nUrls == 0) Seq.empty
        else if (nUrls <= groupSize) upsertGroup(spark, deduped, outDir, cfg)
        else {
          // hash-group the urls (never collected as one set): each group
          // is a full, per-url-atomic upsert; /2 headroom keeps every
          // group under the bound despite hash imbalance
          val groups = math.ceil(nUrls.toDouble / math.max(1, groupSize / 2)).toInt
          val touched = (0 until groups).flatMap { g =>
            upsertGroup(spark,
              deduped.filter(pmod(xxhash64($"url"), lit(groups)) === g), outDir, cfg)
          }.map(_.part_id).toSet
          // per-group records mix ABSOLUTE swap rows (whole partitions)
          // with INCREMENTAL append rows (one group's added rows only), so
          // no single group's record is the final word for a partition
          // several groups touched: return each touched part's `_lineage`
          // rows folded into one (read on the driver, no Spark job)
          foldLineage(readLineage(spark, lineagePath(outDir)).filter(r => touched(r.part_id)))
        })
    } finally { deduped.unpersist(); () }
  }

  /** One bounded upsert group, routed by one presence scan: the delta rows
    * of stored urls are merged into the staged rewrite of their stored
    * partitions and committed by ONE swap; the rows of new urls are then
    * written as tail chunks. `deduped` must already be intra-delta
    * deduplicated and hold at most [[MaxDeleteUrls]] distinct urls.
    */
  private def upsertGroup(
      spark: SparkSession,
      deduped: Dataset[Page],
      outDir: String,
      cfg: EncodeConfig
  ): Seq[LineageRecord] = {
    import spark.implicits._
    // bootstrap / wiped table: nothing stored to replace — plain append
    if (!hasCommittedChunks(spark, outDir))
      return append(spark, deduped, outDir, cfg).collect().toSeq
    val (effCfg, meta) = layout(spark, outDir, cfg)
    val urls = deduped.select($"url").as[String].collect().toSeq
    require(urls.size <= MaxDeleteUrls,
      s"internal: upsert group exceeded $MaxDeleteUrls urls (${urls.size})")
    if (urls.isEmpty) return Seq.empty
    val pairs = presentHomePairs(spark, outDir, urls, meta)
    // each stored url's replacement row is homed at its STORED partition
    // (on a meta table that IS partIdCol's home; on a pre-meta table whose
    // layout disagrees with cfg it is the only location that keeps the
    // per-url old-or-new guarantee — the swap that removes the old copy
    // must be the commit that introduces the new one). A url stored in
    // several partitions (foreign-layout appends) is replaced at the
    // lowest and dropped from the rest.
    val storedHome: Map[String, Int] =
      pairs.groupBy(_._2).map { case (u, ps) => (u, ps.map(_._1).min) }
    // probed on the url column alone (html is never deserialized), from a
    // broadcast variable (no job); -1 = stored at no home, i.e. a new url
    val bcHome = spark.sparkContext.broadcast(storedHome)
    val homeOf = udf((u: String) => bcHome.value.getOrElse(u, -1))

    // staged rewrite of each affected partition from (stored rows minus
    // the delta's urls) UNION (the delta's rows homed there) in ONE
    // re-slice, so upsert DEFRAGMENTS what it touches. A drop happens only
    // to a foreign-layout duplicate partition whose rows were all dropped
    val swapRecords =
      if (pairs.isEmpty) Seq.empty
      else {
        val affected = pairs.map(_._1).distinct.sorted
        // pre-encode (the costly text transform) by a job as wide as the
        // persisted delta, not in the rewrite's one task
        val pre = preEncoded(deduped.withColumn("part_id", homeOf($"url")).filter($"part_id" >= 0))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          pre.foreachPartition((_: Iterator[KernelRow]) => ()) // fills the cache
          stageAndSwap(spark, outDir, affected,
            compactedChunkStream(spark, outDir, effCfg, affected, _, dropUrls = urls.toSet,
              replacements = Some(pre)),
            mayDrop = true, upsertPhaseHook)
        } finally { pre.unpersist(); () }
      }

    // urls stored at no home partition (pre-meta table: nowhere) are new:
    // tail chunks after the swap, absent -> present. append's dedupe and
    // stored-url scan would drop none of these rows, so they are skipped
    val restRecords =
      if (urls.forall(storedHome.contains)) Seq.empty
      else appendNew(spark, outDir, effCfg, hasChunks = true,
        deduped.filter(homeOf($"url") === -1).withColumn("part_id", partIdCol(effCfg)))
    swapRecords ++ restRecords
  }

  /** The swap marker is the roll-forward COMMIT RECORD — it must appear
    * atomically or not at all, never truncated: a token cut mid-`:drop`
    * would make the repair path misparse (wedging every entry point) and
    * an empty marker would silently discard a fully-staged rewrite. So the
    * content is written to a `_SWAP.tmp` sibling first and `fs.rename`d
    * into place (atomic on local FS and HDFS), and it carries a trailing
    * `;` terminator sentinel — a marker missing the sentinel is provably
    * not a committed intent (the rename never happened or a legacy/corrupt
    * file) and is treated as pre-marker staging junk: discarded, live
    * table canonical.
    */
  private def writeSwapMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      outDir: String,
      actions: Seq[(Int, Boolean)]
  ): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(compactTmpPath(outDir), "_SWAP.tmp")
    val out = fs.create(tmp, true)
    out.write((actions.map { case (p, drop) => if (drop) s"$p:drop" else s"$p" }
      .mkString(",") + ";").getBytes(UTF_8))
    out.close()
    if (fs.exists(swapMarkerPath(outDir))) fs.delete(swapMarkerPath(outDir), false)
    require(fs.rename(tmp, swapMarkerPath(outDir)),
      s"failed to commit swap marker at ${swapMarkerPath(outDir)}")
  }

  /** The exchange-free rewrite pipeline (separated so tests can assert
    * on its plan): ONE chunks scan, partition-pruned to `selected`, whose
    * stored rows minus `dropUrls` are extracted in one typed pass and
    * unioned with the `replacements` rows (pre-encoded by [[preEncoded]],
    * already homed by `_6`), then coalesced into ONE task — a repartition
    * would shuffle — for the spillable in-partition sort + streaming kernel,
    * which hands each part's lineage record to `onPart`.
    */
  private[graft] def compactedChunkStream(
      spark: SparkSession,
      outDir: String,
      cfg: EncodeConfig,
      selected: Seq[Int],
      onPart: LineageRecord => Unit,
      dropUrls: Set[String] = Set.empty,
      replacements: Option[Dataset[KernelRow]] = None
  ): Dataset[EncodedChunk] = {
    import spark.implicits._
    require(selected.nonEmpty, "compactedChunkStream needs at least one partition")
    // ship the url set as an explicit torrent broadcast, not a closure
    // capture: a delete-batch-sized set (<= MaxDeleteUrls = 100k urls)
    // closure-captured here inflates the TASK BINARY to tens of MB, which
    // the scheduler re-broadcasts on every stage (re)submission and warns
    // about; a broadcast variable ships once per executor and is reused.
    // Sorted UTF-8 bytes, so the per-row probe builds no String
    val bcDrop = spark.sparkContext.broadcast(sortedUtf8(dropUrls))
    val stored = TableScan.chunks(spark, outDir)
      .filter($"part_id".isin(selected: _*))
      .select($"part_id" +: Seq("url", "warc_ts", "html", "text", "lang")
        .map(c => col(s"$c.payload").as(c)): _*)
      .as[(Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
      .mapPartitions { it =>
        it.flatMap(c => compactPreRows(c).filterNot(r => containsUtf8(bcDrop.value, r._1)))
      }
    replacements.fold(stored)(stored.union)
      .coalesce(1)
      .toDF()
      // narrow: no exchange, spillable. BinaryType sorts in unsigned byte
      // order = the UTF8String order the old String column sorted in
      .sortWithinPartitions($"_6", $"_1")
      .as[KernelRow]
      .mapPartitions(it => encodePreEncodedSorted(it, cfg.chunkRows, onPart))
  }

  /** `urls` as UTF-8 bytes in unsigned byte order, for [[containsUtf8]]. */
  private[spark] def sortedUtf8(urls: Iterable[String]): Array[Array[Byte]] = {
    val sorted = urls.iterator.map(_.getBytes(UTF_8)).toArray
    java.util.Arrays.sort(sorted, utf8Order)
    sorted
  }

  /** Allocation-free binary search of `key` in [[sortedUtf8]]'s output. */
  private[spark] def containsUtf8(sorted: Array[Array[Byte]], key: Array[Byte]): Boolean =
    java.util.Arrays.binarySearch(sorted, key, utf8Order) >= 0

  private val utf8Order: java.util.Comparator[Array[Byte]] =
    (a, b) => java.util.Arrays.compareUnsigned(a, b)

  /** Per-partition (part_id, n_chunks, n_rows) from the chunks table's
    * metadata columns (column-pruned scan, no payload IO; one small tuple
    * per live partition) — the ONE aggregation behind both
    * [[fragmentedPartIds]] and [[describe]], so the health probe and the
    * compaction selector cannot diverge.
    */
  private def partChunkStats(
      spark: SparkSession, outDir: String): Array[(Int, Long, Long)] = {
    import spark.implicits._
    TableScan.chunks(spark, outDir)
      .groupBy($"part_id")
      .agg(count(lit(1)).as("n_chunks"), sum($"n_rows").as("n_rows"))
      .as[(Int, Long, Long)].collect()
  }

  /** True iff a partition's chunk count exceeds its ideal layout by more
    * than `slackChunks` — shared by selector and health probe.
    */
  private def isFragmented(
      nChunks: Long, nRows: Long, chunkRows: Int, slackChunks: Int): Boolean =
    nChunks > math.ceil(nRows / chunkRows.toDouble) + slackChunks

  /** Partitions fragmented enough to pay for compaction: more committed
    * chunks than `ceil(rows / chunkRows) + slackChunks`, from a
    * metadata-only (nested-pruned) scan of the chunks table — the
    * Iceberg-`rewrite_data_files`-style selection that lets routine
    * maintenance rewrite only what appends actually fragmented instead of
    * hand-picked partitions or the whole table.
    */
  def fragmentedPartIds(
      spark: SparkSession,
      outDir: String,
      cfg: EncodeConfig = EncodeConfig(),
      slackChunks: Int = 2
  ): Seq[Int] = {
    // a half-swapped table would silently mis-count (a mid-swap partition's
    // rows are missing entirely) — same fail-fast contract as the readers
    requireNoPendingSwap(spark, outDir)
    if (!hasCommittedChunks(spark, outDir)) return Seq.empty
    val chunkRows = layout(spark, outDir, cfg)._1.chunkRows
    partChunkStats(spark, outDir)
      .filter { case (_, c, r) => isFragmented(c, r, chunkRows, slackChunks) }
      .map(_._1).toSeq.sorted
  }

  /** One-row health snapshot of the encoded table at `outDir` — the ops
    * surface for a long-lived store (is a repair pending? is a writer in
    * flight? how fragmented did the append stream leave the layout?).
    * Unlike the readers, `describe` never fails on a pending swap — a
    * health probe must be usable exactly when the table is sick — so when
    * `pending_swap` is true the chunk-derived counts reflect the
    * half-swapped layout mid-repair, not the final state. Reads only the
    * `part_id`/`n_rows` metadata columns of the chunks table (column-
    * pruned scan, no payload IO) and collects one small tuple per live
    * partition — O(partitions), same bound as [[fragmentedPartIds]].
    */
  def describe(
      spark: SparkSession,
      outDir: String,
      cfg: EncodeConfig = EncodeConfig(),
      slackChunks: Int = 2): Dataset[TableHealth] = {
    import spark.implicits._
    val fs = chunksFs(spark, outDir)
    val pending = fs.exists(swapMarkerPath(outDir))
    val lease = fs.exists(writerLockPath(outDir))
    val (effCfg, meta) = layout(spark, outDir, cfg)
    val (rows, chunks, partsLive, fragged) =
      if (!hasCommittedChunks(spark, outDir)) (0L, 0L, 0, 0)
      else {
        // same layout rule and fragmentation predicate as
        // fragmentedPartIds — a meta-less table or a non-default slack
        // must read identically from the probe and the selector
        val per = partChunkStats(spark, outDir)
        (per.map(_._3).sum, per.map(_._2).sum, per.length,
          per.count { case (_, c, r) => isFragmented(c, r, effCfg.chunkRows, slackChunks) })
      }
    spark.createDataset(Seq(TableHealth(
      rows, chunks, partsLive,
      meta.map(_.numPartitions).getOrElse(0), meta.map(_.saltFactor).getOrElse(0),
      meta.map(_.chunkRows).getOrElse(0), fragged, pending, lease)))
  }

  /** Roll forward a compaction swap that crashed after its `_SWAP` marker
    * was written (the marker proves the staging dir is complete): finish
    * the remaining renames, replace the affected lineage rows with the
    * staged ones, drop the staging dir (see [[finishSwap]]). Pre-marker
    * staging leftovers are NOT touched here — the live table is still
    * canonical and [[compact]] discards them on its next run. Returns
    * true when a pending swap was completed. Called automatically by every
    * write entry point ([[run]]/[[append]]/[[compact]]/[[delete]]/
    * [[upsert]]); readers instead fail fast via [[requireNoPendingSwap]].
    */
  def completePendingCompactSwap(spark: SparkSession, outDir: String): Boolean = {
    val fs = chunksFs(spark, outDir)
    if (!fs.exists(swapMarkerPath(outDir))) return false
    withWriterLock(spark, outDir) { completePendingCompactSwapLocked(spark, fs, outDir) }
  }

  private def completePendingCompactSwapLocked(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      outDir: String
  ): Boolean = {
    if (!fs.exists(swapMarkerPath(outDir))) return false
    val markerLen = fs.getFileStatus(swapMarkerPath(outDir)).getLen.toInt
    val bytes = new Array[Byte](markerLen)
    val in = fs.open(swapMarkerPath(outDir))
    try in.readFully(0, bytes) finally in.close()
    val content = new String(bytes, UTF_8)
    // a marker without the `;` terminator sentinel was never committed by
    // [[writeSwapMarker]]'s rename (truncated/corrupt/legacy file): the
    // live table is still canonical, so discard it with the staging dir
    // instead of misparsing it into a bogus roll-forward
    if (!content.endsWith(";")) {
      fs.delete(new org.apache.hadoop.fs.Path(compactTmpPath(outDir)), true)
      return false
    }
    // marker entries: "<pid>" = swap staged dir in; "<pid>:drop" = the
    // partition's rewrite produced no rows (delete emptied it) — remove it
    val actions = content.stripSuffix(";").split(",").filter(_.nonEmpty).toSeq.map { e =>
      if (e.endsWith(":drop")) (e.stripSuffix(":drop").toInt, true)
      else (e.toInt, false)
    }
    finishSwap(spark, outDir, actions)
    true
  }

  /** Readers call this before scanning the chunks table: a pending `_SWAP`
    * marker means partition directories may be mid-swap (momentarily
    * missing), so a read could silently drop rows. Repair by re-running
    * [[compact]] or [[completePendingCompactSwap]] (write entry points do
    * this automatically).
    */
  def requireNoPendingSwap(spark: SparkSession, outDir: String): Unit = {
    val fs = chunksFs(spark, outDir)
    require(!fs.exists(swapMarkerPath(outDir)),
      s"encoded table at $outDir has an interrupted compaction swap pending; " +
        "run EncodeJob.completePendingCompactSwap (or any write) to repair before reading")
  }

  /** Swap staged partition dirs into the live table (or remove partitions
    * a delete emptied), install the staged `_lineage`, and remove the
    * staging dir — the shared tail of [[stageAndSwap]] and
    * [[completePendingCompactSwap]]. One order for every swap: marker ->
    * renames -> lineage rename -> staging dir (which holds the marker).
    * Idempotent: a part already swapped (its staged dir gone) or already
    * dropped is skipped, and a crash between the lineage delete and rename
    * leaves the staged table for the re-run to rename.
    *
    * A marker written by an older binary has no staged lineage table: its
    * table is staged here, from its staged kernel records (if any) and a
    * tombstone per drop; with no staged records the swapped parts keep
    * their existing `_lineage` rows, which count the same rows (a swap
    * changes layout, not content) with chunk metrics stale until the next
    * rewrite of those parts.
    *
    * Reader-outage window: readers fail fast while the `_SWAP` marker
    * exists, which is O(parts) renames plus one lineage delete and rename:
    * everything the swap commits was written before the marker. Keeping
    * the marker until the lineage is in place makes "repair me first" hold
    * until the drop tombstones, which resume safety depends on, are live.
    */
  private def finishSwap(
      spark: SparkSession,
      outDir: String,
      actions: Seq[(Int, Boolean)] // (part_id, dropPartition)
  ): Unit = {
    val fs = chunksFs(spark, outDir)
    actions.foreach { case (pid, drop) =>
      val staged = new org.apache.hadoop.fs.Path(compactTmpPath(outDir), s"part_id=$pid")
      val live = new org.apache.hadoop.fs.Path(chunksPath(outDir), s"part_id=$pid")
      if (drop) {
        if (fs.exists(staged)) fs.delete(staged, true)
        if (fs.exists(live)) fs.delete(live, true)
      } else if (fs.exists(staged)) {
        if (fs.exists(live)) fs.delete(live, true)
        require(fs.rename(staged, live), s"failed to swap in compacted $live")
      }
    }
    val staged = new org.apache.hadoop.fs.Path(stagedLineageTablePath(outDir))
    val lp = new org.apache.hadoop.fs.Path(lineagePath(outDir))
    val lfs = lp.getFileSystem(hadoopConf(spark))
    // staged only once its file is committed: a crash inside the staging
    // write leaves the directory holding a hidden temp file alone
    if (DriverParquet.dataFiles(hadoopConf(spark), staged).isEmpty) {
      if (lfs.exists(staged)) lfs.delete(staged, true)
      stageLineageTable(spark, outDir,
        readLineage(spark, stagedLineagePath(outDir)) ++ tombstones(actions))
    }
    if (lfs.exists(lp)) lfs.delete(lp, true)
    require(lfs.rename(staged, lp), s"failed to install the staged lineage at $lp")
    fs.delete(new org.apache.hadoop.fs.Path(compactTmpPath(outDir)), true)
  }

  /** A dropped (fully-deleted) partition keeps a zero-row "done" lineage
    * TOMBSTONE: donePartIds still lists it, so a later resume-style run()
    * with the original input does NOT re-encode the partition and
    * resurrect taken-down urls — deletion durability must not depend on
    * whether a url shared its partition with surviving rows. Tombstones
    * are strict: only removing the table directory starts a new corpus
    * (new data still lands via append's wiped-table path).
    */
  private def tombstones(actions: Seq[(Int, Boolean)]): Seq[LineageRecord] =
    actions.collect { case (pid, true) => LineageRecord(pid, 0L, 0L, 0L, 0L, "", 0L, "done") }

  /** Stage the whole `_lineage` a swap installs: `records` REPLACE their
    * parts' rows (appending would double the metrics); the other parts'
    * rows are carried over folded. Folding superseded per-append rows
    * while the table is rewritten anyway keeps `_lineage` O(partitions):
    * append (batch and per-micro-batch streaming) adds one row per touched
    * part per batch, and the in-stream compaction hook reaches this pass
    * every `compactEveryBatches` batches. A `_lineage_swap_tmp` left by an
    * older binary's crash between its lineage delete and rename IS the
    * newest complete table: it is rolled forward before reading, or the
    * rows of every part outside `records` would be lost for good.
    */
  private def stageLineageTable(spark: SparkSession, outDir: String, records: Seq[LineageRecord]): Unit = {
    val lp = new org.apache.hadoop.fs.Path(lineagePath(outDir))
    val tmpPath = lineagePath(outDir) + "_swap_tmp"
    val lfs = lp.getFileSystem(hadoopConf(spark))
    if (!lfs.exists(lp) && hasCommittedFileUnder(spark, tmpPath)) {
      require(lfs.rename(new org.apache.hadoop.fs.Path(tmpPath), lp),
        s"failed to roll forward lineage swap at $tmpPath")
    }
    val parts = records.map(_.part_id).toSet
    val kept = foldLineage(readLineage(spark, lineagePath(outDir)).filterNot(r => parts(r.part_id)))
    DriverParquet.write(hadoopConf(spark),
      new org.apache.hadoop.fs.Path(stagedLineageTablePath(outDir)), kept ++ records)
  }

  /** One row per part: the part's rows summed (rows, chunks, bytes),
    * xor-ed (payload hash) and codec-unioned — the same aggregation the
    * encode kernel streams over a part's chunks, so a folded row equals the
    * one a single encode of those chunks would emit. A zero-row drop
    * tombstone folds harmlessly (0-row contribution) and keeps its part
    * "done".
    */
  private def foldLineage(rows: Seq[LineageRecord]): Seq[LineageRecord] =
    rows.groupBy(_.part_id).map { case (pid, rs) =>
      if (rs.sizeIs == 1) rs.head
      else LineageRecord(pid,
        rs.map(_.n_rows).sum, rs.map(_.n_chunks).sum,
        rs.map(_.bytes_in).sum, rs.map(_.bytes_out).sum,
        rs.flatMap(_.codecs.split(',')).filter(_.nonEmpty)
          .distinct.sorted.mkString(","),
        rs.map(_.payload_hash).foldLeft(0L)(_ ^ _),
        if (rs.forall(_.status == "done")) "done" else rs.last.status)
    }.toSeq.sortBy(_.part_id)

  /** One chunk's (part_id, url, warc_ts, html, text, lang payloads) -> its
    * per-page pre-encoded tuples (the exact input the
    * streaming kernel consumes). text/html bodies are reused as stored
    * ([[ColumnCodec.extractBwtBodies]] + the O(1)-ish
    * [[graft.codec.Pipelines.rawLenOf]] header recovery), plain and
    * text-slot html bodies alike, unless the stored codec is not per-value
    * (chunk-level Dict/Rle/Fsst/Raw, found only in tables written before
    * the raw-row path was removed), which takes the full decode and the
    * pre-encode of a fresh encode ([[preEncodeValue]], [[preEncodeHtml]]).
    */
  private def compactPreRows(
      c: (Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Array[Byte])
  ): Iterator[KernelRow] = {
    val (pid, url, warcTs, html, text, lang) = c
    val urls = ColumnCodec.decodeBinary(url)
    val tss = ColumnCodec.decodeLong(warcTs)
    val langs = ColumnCodec.decodeBinaryNullable(lang)
    def preCol(payload: Array[Byte])(reEncoded: => Array[Array[Byte]]): Array[Array[Byte]] =
      ColumnCodec.extractBwtBodies(payload) match {
        case Some(bodies) =>
          bodies.map(b => if (b == null) null else withRawLen(graft.codec.Pipelines.rawLenOf(b), b))
        case None => reEncoded
      }
    val htmlPre = preCol(html) {
      val texts = ColumnCodec.decodeBinaryNullable(text)
      val htmls = ColumnCodec.decodeBinaryNullable(html)
      htmls.indices.map(i => preEncodeHtml(htmls(i), texts(i))).toArray
    }
    val textPre = preCol(text)(ColumnCodec.decodeBinaryNullable(text).map(preEncodeValue))
    // stored bytes/micros feed the kernel directly — the former
    // String/Timestamp round-trip existed only to match the old row shape
    urls.indices.iterator.map { i =>
      (urls(i), tss(i), htmlPre(i), textPre(i), langs(i), pid)
    }
  }

  /** Plan-dump seam: the encode dataflow as a DataFrame (no lineage side
    * effects, nothing written) — lets tools dump the encode plan that
    * [[run]] executes without running a write.
    */
  private[graft] def encodeChunkStreamForPlan(pages: DataFrame, cfg: EncodeConfig): DataFrame =
    encodeChunkStream(pages.withColumn("part_id", partIdCol(cfg)), cfg, _ => ()).toDF()

  /** The one encode pipeline, shared by [[run]], [[append]] and
    * [[upsert]]: pages-with-part_id rows in, EncodedChunk stream out (chunk
    * ids start at 0 per part; [[append]] shifts them afterwards).
    *  - narrow pre-encode of the two heavy columns BEFORE the exchange:
    *    each text value becomes varint(rawLen) ++ textEncode(bytes), each
    *    html value varint(rawLen) ++ htmlEncode(bytes, row's text bytes),
    *    so the shuffle carries html with its text paragraphs as slots.
    *    The scan hands the kernel RAW UTF-8 bytes and epoch-micros
    *    (cast/unix_micros are codegen'd) — cast("binary") of a parquet
    *    string column is exactly its UTF-8 bytes, so no value is decoded
    *    to a String or Timestamp on the way;
    *  - the single salted exchange on part_id;
    *  - Catalyst's spillable (Tungsten) sort on (part_id, url) — BinaryType
    *    sorts in unsigned UTF-8 byte order, which fixes the chunk layout;
    *  - the streaming kernel [[encodePreEncodedSorted]], which holds one
    *    chunk at a time, so task memory is O(chunkRows) even for a
    *    partition larger than executor memory.
    */
  private def encodeChunkStream(
      todo: DataFrame,
      cfg: EncodeConfig,
      onPart: LineageRecord => Unit
  ): Dataset[EncodedChunk] = {
    val spark = todo.sparkSession
    import spark.implicits._
    preEncoded(todo)
      .repartition(cfg.numPartitions, $"_6")
      .sortWithinPartitions($"_6", $"_1")
      .mapPartitions(it => encodePreEncodedSorted(it, cfg.chunkRows, onPart))
  }

  /** The narrow pre-encode of [[encodeChunkStream]] and of [[upsert]]'s
    * replacement rows: pages with a `part_id` in, the kernel's rows out.
    */
  private def preEncoded(rows: DataFrame): Dataset[KernelRow] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .select(col("url").cast("binary"),
        // url and warc_ts are the row identity: a null warc_ts fails here,
        // in the codegen'd projection, with a named error — the primitive
        // Long below would otherwise fail with an anonymous encoder error
        coalesce(unix_micros(col("warc_ts")), raise_error(lit(NullWarcTsError))),
        col("html"), col("text").cast("binary"), col("lang").cast("binary"),
        col("part_id"))
      .as[KernelRow]
      .mapPartitions { it =>
        it.map { case (url, ts, html, text, lang, pid) =>
          (url, ts, preEncodeHtml(html, text), preEncodeValue(text), lang, pid)
        }
      }
  }

  /** The error a page with a null `warc_ts` fails the encode with. */
  private[spark] val NullWarcTsError =
    "EncodeJob: null warc_ts in the input pages (url and warc_ts are the row identity)"

  /** Chunk-level incremental append: encode ONLY the delta's new urls into
    * NEW chunk files + lineage rows, leaving every existing chunk file
    * untouched (the gap between "resumable" — [[run]]'s partition-grained
    * skip — and "incremental": a daily crawl delta at 100 TB must not
    * re-encode the partitions it lands in).
    *
    * Mechanics:
    *  - part_id is the same pure row function as [[run]]'s, so delta rows
    *    land in their home partitions;
    *  - already-present urls are dropped by decoding the url column of ONLY
    *    those chunks whose `[url_min, url_max]` range covers a delta url
    *    (a range semi-join — on a disjoint delta nothing is decoded);
    *  - new chunks get ids starting past the part's existing count (from
    *    the lineage table), so `(part_id, chunk_id)` stays unique and
    *    [[DecodeJob]] needs no changes;
    *  - chunk files and lineage rows are APPENDED; re-running the same
    *    delta is a no-op (every url dedupes away, nothing is written).
    *
    * INSERT-ONLY semantics across batches: within one delta the newest
    * `warc_ts` row wins, but a url already present in the STORED table
    * always wins over any later delta row — a re-crawl of a stored url is
    * dropped, not updated (updating means rewriting the covering chunk
    * files; [[upsert]] does exactly that for deliberate refreshes). The
    * streaming surface
    * ([[graft.streaming.StreamingEncodeJob.startAppending]]) inherits
    * exactly this: first successfully-stored version of a url is final.
    *
    * Returns this append's lineage records (empty if the delta was fully
    * deduplicated).
    */
  def append(
      spark: SparkSession,
      delta: Dataset[Page],
      outDir: String,
      cfg: EncodeConfig = EncodeConfig()
  ): Dataset[LineageRecord] = withWriterLock(spark, outDir) {
    import spark.implicits._

    val (effCfg, meta) = layout(spark, outDir, cfg)
    completePendingCompactSwap(spark, outDir)

    // intra-delta dedupe FIRST (it applies to the bootstrap path too): a
    // crawler re-delivering the same url WITHIN one batch is as normal as
    // across batches
    val deduped = dedupeDelta(delta)
    val withPart = deduped.withColumn("part_id", partIdCol(effCfg))

    // Bootstrap vs wiped-table routing. A dir with no committed chunks is
    // either a NEW table (the initial encode — the natural way to start an
    // incrementally-built table) or a WIPED one (every partition deleted).
    // The distinction matters because run()'s resume skip would let a
    // wipe's zero-row lineage tombstones silently drop the delta, while
    // clearing the tombstones instead would let a resume-style run()
    // resurrect taken-down urls — so a wiped table takes the normal
    // incremental path below with the stored-url scan and offsets skipped.
    // "New" means: no committed data file (staging junk from a crashed
    // bootstrap attempt does not count, and run()'s Overwrite clears it;
    // no _SUCCESS check — dynamic-partition-overwrite commits write none),
    // AND no meta, AND no lineage rows — meta alone would misclassify a
    // pre-meta legacy table (or one whose _meta died inside an older
    // writer's delete-then-rewrite) whose tombstones would then swallow the
    // delta inside run().
    val hasChunks = hasCommittedChunks(spark, outDir)
    if (!hasChunks && meta.isEmpty && donePartIds(spark, outDir).isEmpty)
      return run(spark, deduped, outDir, cfg)

    // --- dedupe against the stored table via per-chunk url ranges (nested
    // pruning: only the url payload leaf is read, never html/text)
    val newRows = if (!hasChunks) withPart.toDF()
    else {
      val urlChunks = TableScan.chunks(spark, outDir)
        .select($"part_id", $"chunk_id", $"url_min", $"url_max", $"url.payload".as("payload"))
      val deltaKeys = withPart.select($"url".as("d_url"), $"part_id".as("d_part"))
      val candidateChunks = urlChunks.join(deltaKeys,
          urlChunks("part_id") === $"d_part" &&
            $"d_url" >= $"url_min" && $"d_url" <= $"url_max",
          "left_semi")
      val existingUrls = candidateChunks.select($"payload").as[Array[Byte]]
        .flatMap(p => ColumnCodec.decodeBinary(p).iterator.map(new String(_, UTF_8)))
        .toDF("url")
      withPart.join(existingUrls, Seq("url"), "left_anti")
    }

    spark.createDataset(appendNew(spark, outDir, effCfg, hasChunks, newRows))
  }

  /** The write step of [[append]] and of [[upsert]]'s new urls: `rows`
    * (deduplicated pages with their home `part_id`, none stored there)
    * become new chunks with ids past each part's stored ones, plus lineage.
    * `hasChunks`: the table has committed chunks (the caller has listed).
    */
  private def appendNew(
      spark: SparkSession,
      outDir: String,
      cfg: EncodeConfig,
      hasChunks: Boolean,
      rows: DataFrame
  ): Seq[LineageRecord] = {
    import spark.implicits._
    // --- chunk-id offsets: max existing chunk_id + 1 per part, from the
    // CHUNKS table (metadata-only, column-pruned scan) rather than the
    // lineage table: chunk files commit before lineage rows, so after a
    // crash in that window the lineage undercounts and a lineage-derived
    // offset would reuse an orphaned chunk's (part_id, chunk_id) key
    val offsets: Map[Int, Int] =
      if (!hasChunks) Map.empty
      else TableScan.chunks(spark, outDir)
        .groupBy($"part_id").agg(max($"chunk_id").as("m"))
        .as[(Int, Int)].collect().map { case (pid, m) => pid -> (m + 1) }.toMap
    val bcOff = spark.sparkContext.broadcast(offsets)

    val records = writeChunks(spark, chunksPath(outDir), SaveMode.Append) { onPart =>
      encodeChunkStream(rows, cfg, onPart)
        .map(c => c.copy(chunk_id = c.chunk_id + bcOff.value.getOrElse(c.part_id, 0)))
    }
    appendLineage(spark, outDir, records)
    records
  }

  /** Intra-delta url dedupe with a DETERMINISTIC winner (newest `warc_ts`,
    * content hash as tie-break) — dropDuplicates would pick a
    * partitioning-dependent row and break re-append/re-upsert idempotence.
    * Shared by [[append]] and [[upsert]] so the two verbs cannot disagree
    * on which delta row a url resolves to.
    */
  private def dedupeDelta(delta: Dataset[Page]): Dataset[Page] = {
    val spark = delta.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url"))
      .orderBy(col("warc_ts").desc, xxhash64(col("text"), col("html"), col("lang")).desc)
    delta.toDF()
      .withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1)
      .select("url", "warc_ts", "html", "text", "lang").as[Page]
  }

  /** Map-side pre-encoding of one text value: varint(rawLen) ++ textEncode. */
  private[spark] def preEncodeValue(raw: Array[Byte]): Array[Byte] =
    if (raw == null) null else withRawLen(raw.length, graft.codec.Pipelines.textEncode(raw))

  /** Map-side pre-encoding of one html value against its row's text bytes
    * (nullable): varint(rawLen) ++ htmlEncode.
    */
  private[spark] def preEncodeHtml(html: Array[Byte], text: Array[Byte]): Array[Byte] =
    if (html == null) null else withRawLen(html.length, graft.codec.Pipelines.htmlEncode(html, text))

  private def withRawLen(rawLen: Long, body: Array[Byte]): Array[Byte] = {
    val buf = new graft.codec.Bytes.Buf(body.length + 5)
    buf.writeVarLong(rawLen)
    buf.writeBytes(body)
    buf.toArray
  }

  // (url utf-8 bytes, warc_ts epoch micros, html pre-encoded, text
  // pre-encoded, lang utf-8 bytes) — raw bytes end to end; Strings exist
  // only in the per-chunk url_min/url_max metadata
  private type PreRow = (Array[Byte], Long, Array[Byte], Array[Byte], Array[Byte])
  // a PreRow with its part_id: the row the chunk kernel consumes
  private[spark] type KernelRow = (Array[Byte], Long, Array[Byte], Array[Byte], Array[Byte], Int)

  /** One column of a chunk from its pre-encoded values: the varint raw
    * length is stripped (and summed into `bytes_in`) and the bodies go into
    * [[ColumnCodec.encodeBwtBodies]]' per-value container.
    */
  private def containerizePre(pre: Array[Array[Byte]]): ColChunk = {
    var rawBytes = 0L
    val bodies = pre.map { p =>
      if (p == null) null
      else {
        val rd = new graft.codec.Bytes.Reader(p)
        rawBytes += rd.readVarLong()
        java.util.Arrays.copyOfRange(p, rd.pos, p.length)
      }
    }
    val payload = ColumnCodec.encodeBwtBodies(bodies)
    ColChunk(ColumnCodec.codecName(payload), rawBytes, payload.length.toLong,
      fnv1a(payload), payload)
  }

  /** One chunk row (all five column payloads) of a pre-encoded row slice. */
  private def preEncodedChunkRow(
      pid: Int,
      cid: Int,
      chunk: scala.collection.Seq[PreRow]
  ): EncodedChunk = {
    val urls = chunk.map { r =>
      require(r._1 != null, "EncodeJob: null url in the input pages")
      r._1
    }.toArray
    val tss = chunk.map(_._2).toArray
    val langs = chunk.map(_._5).toArray
    def bin(values: Array[Array[Byte]]): ColChunk = {
      val payload = ColumnCodec.encodeBinaryNullable(values)
      ColChunk(ColumnCodec.codecName(payload),
        values.map(v => if (v == null) 0L else v.length.toLong).sum,
        payload.length.toLong, fnv1a(payload), payload)
    }
    val tsPayload = ColumnCodec.encodeLong(tss)
    // chunk is a url-sorted slice, so its url range is (first, last)
    EncodedChunk(pid, cid, chunk.length,
      new String(chunk.head._1, UTF_8), new String(chunk.last._1, UTF_8),
      url = bin(urls),
      warc_ts = ColChunk(ColumnCodec.codecName(tsPayload), tss.length * 8L,
        tsPayload.length.toLong, fnv1a(tsPayload), tsPayload),
      html = containerizePre(chunk.map(_._3).toArray),
      text = containerizePre(chunk.map(_._4).toArray),
      lang = bin(langs))
  }

  /** The chunk kernel: rows arrive already sorted by (part_id, url) from
    * Catalyst's spillable sort, so the kernel only ever holds one chunk
    * (chunkRows rows) plus O(1) lineage counters — a partition larger
    * than executor memory still encodes. Each part's rows are sliced into
    * chunks of exactly chunkRows rows (the last one ragged), numbered from
    * 0, and the part's lineage record is emitted when its last chunk is.
    */
  private[spark] def encodePreEncodedSorted(
      it: Iterator[KernelRow],
      chunkRows: Int,
      onPartDone: LineageRecord => Unit
  ): Iterator[EncodedChunk] = new Iterator[Seq[EncodedChunk]] {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[PreRow]
    private var curPid = Int.MinValue
    private var cid = 0
    // per-part lineage aggregates
    private var rows = 0L
    private var bytesIn = 0L
    private var bytesOut = 0L
    private var hash = 0L
    private val codecs = scala.collection.mutable.SortedSet.empty[String]
    private var pendingLineagePid = Int.MinValue

    private def flushChunk(): Seq[EncodedChunk] = {
      val c = preEncodedChunkRow(curPid, cid, buf)
      cid += 1
      rows += buf.length
      bytesIn += c.bytesIn
      bytesOut += c.bytesOut
      hash ^= c.hashXor
      c.columns.foreach { case (n, cc) => codecs += s"$n=${cc.codec}" }
      buf.clear()
      Seq(c)
    }

    private def closePart(): Unit = {
      if (curPid != Int.MinValue) {
        onPartDone(LineageRecord(curPid, rows, cid.toLong, bytesIn, bytesOut,
          codecs.mkString(","), hash, "done"))
      }
      cid = 0; rows = 0L; bytesIn = 0L; bytesOut = 0L; hash = 0L; codecs.clear()
    }

    // the third disjunct keeps the iterator alive when input ended exactly
    // on a chunk boundary but the last part's lineage is still unemitted
    def hasNext: Boolean = it.hasNext || buf.nonEmpty || curPid != Int.MinValue

    def next(): Seq[EncodedChunk] = {
      // guard for the append loop's invariant (buf.length < chunkRows on
      // entry). A part change leaves one row in buf, and it can only occur
      // with a partly filled buf, i.e. when chunkRows >= 2, so for any
      // chunkRows >= 1 this never fires; it keeps a chunk from exceeding
      // chunkRows should that ever change
      if (buf.length >= chunkRows && buf.nonEmpty) return flushChunk()
      while (it.hasNext) {
        val (url, ts, html, text, lang, pid) = it.next()
        if (pid != curPid) {
          if (buf.nonEmpty) {
            val out = flushChunk()
            closePart()
            curPid = pid
            buf += ((url, ts, html, text, lang))
            return out
          }
          closePart()
          curPid = pid
        }
        buf += ((url, ts, html, text, lang))
        if (buf.length >= chunkRows) return flushChunk()
      }
      // input exhausted: flush the tail chunk and close the last part
      val out = if (buf.nonEmpty) flushChunk() else Seq.empty
      closePart()
      curPid = Int.MinValue
      out
    }
  }.flatten

  /** FNV-1a 64-bit (public domain) — deterministic payload fingerprint. */
  def fnv1a(bytes: Array[Byte]): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xFFL)
      h *= 0x100000001B3L
      i += 1
    }
    h
  }
}
