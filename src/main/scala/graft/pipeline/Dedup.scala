package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8

/** Deduplication operators for web-scale training-data pipelines.
  *
  * Exact dedup is a hash-groupBy (one shuffle on the content hash).
  * Near-dup is MinHash+LSH: shingle -> 64-hash signature -> banded bucket
  * join; candidate pairs only ever form inside a bucket, and oversized
  * buckets (degenerate content) are dropped with a counted, logged report
  * (`onDrop`) rather than allowed to go quadratic — the property that
  * keeps this plan alive at 10^12 documents. Bucket membership is counted
  * BEFORE any per-bucket list is materialized, so a degenerate bucket
  * never sits in one aggregation buffer either. SimHash gives a
  * complementary hamming-distance near-dup whose band count is derived
  * from `maxHamming` (pigeonhole: maxHamming+1 bands guarantee a shared
  * band for every pair within the radius).
  */
object Dedup {

  /** What the bucket cap did to oversized buckets. `splitBuckets`/
    * `splitRows` count buckets salt-split into sub-buckets (pairs inside a
    * sub-bucket are still found; cross-sub-bucket pairs are the bounded
    * recall loss). `droppedBuckets`/`droppedRows` count sub-buckets that
    * exceeded even the 2x slack after splitting (hash-skew pathology) and
    * were truly dropped — surfaced so silent truncation can't read as full
    * coverage.
    */
  final case class DropReport(
      droppedBuckets: Long,
      droppedRows: Long,
      splitBuckets: Long = 0L,
      splitRows: Long = 0L)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.pipeline.Dedup")

  /** Persist a Dataset's rows at the RDD layer instead of `cache()`:
    * DataFrame cache entries pin CacheManager storage for the session
    * lifetime unless explicitly unpersisted (which a function returning a
    * lazy DataFrame cannot safely do), while RDD persistence is
    * reference-tracked — the ContextCleaner frees the blocks as soon as the
    * derived DataFrames are garbage collected. Repeated dedup/near-dup
    * invocations therefore no longer accumulate dead cached blocks.
    */
  private[pipeline] def autoPersist[T: org.apache.spark.sql.Encoder](ds: Dataset[T]): Dataset[T] =
    ds.sparkSession.createDataset(
      ds.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Per-member salt for splitting an oversized bucket into `s`
    * sub-buckets: band-dependent, so a pair missed in one band's split has
    * an independent 1/s chance in every other shared band (coverage of an
    * n-member degenerate bucket ≈ 1-(1-1/s)^bands rather than 1/s).
    * Sign-masked mod (not floorMod) so the DuckDB oracle twin can compute
    * it with unsigned arithmetic.
    */
  @inline private[pipeline] def subBucketSalt(id: Long, band: Int, s: Long): Long =
    (mix(id + band + 1) & Long.MaxValue) % s

  /** Candidate pairs (id_a < id_b, each pair once) from a banded (band,
    * bucket, id) table, with the oversized-bucket cap applied scale-safely:
    *  1. one hash exchange on (band, bucket) annotates every member with
    *     its bucket size `n` (a window count — no lists),
    *  2. buckets <= `maxBucket` pair directly; buckets over it are
    *     salt-split into ceil(n/maxBucket) sub-buckets of size `m` (bounded
    *     pair loss across sub-buckets, reported as `splitBuckets`/
    *     `splitRows`, still no quadratic blow-up),
    *  3. sub-buckets still above 2x maxBucket (hash-skew pathology) are
    *     dropped and reported,
    *  4. only then collect the surviving (bounded) member lists and
    *     explode the in-bucket pairs.
    * The result is hash-partitioned on `id_a`, so a caller's sort-merge
    * join on `id_a` reuses the exchange of the final `distinct`.
    */
  private[pipeline] def cappedBucketPairs(
      banded0: DataFrame,
      maxBucket: Int,
      onDrop: DropReport => Unit
  ): DataFrame = {
    val spark = banded0.sparkSession
    import spark.implicits._
    val mb = maxBucket.toLong

    // ONE exchange annotates every member with its bucket size via a
    // window count (replaces the former groupBy-sizes + rejoin: two
    // exchange subtrees and a SortMergeJoin); singleton buckets drop
    // before anything else reads the rows. Scale note: WindowExec holds
    // the current (band, bucket) group in a SPILL-BACKED row buffer
    // (memory-bounded by spark.sql.windowExec.buffer.*, overflow to
    // disk), so a degenerate bucket still never sits in an in-memory
    // aggregation buffer; its disk footprint is the same rows the old
    // join's shuffle already wrote.
    val wBucket = org.apache.spark.sql.expressions.Window.partitionBy($"band", $"bucket")
    // salt as a deterministic scalar UDF, NOT a typed map: a typed map
    // would sever the attribute lineage and force the (band, bucket,
    // salt) window below to re-exchange; as a Project the planner sees
    // hash(band, bucket) already clusters every refined key (subset
    // rule), so the second window needs only a sort.
    // (Splitmix64 as raw Catalyst arithmetic is not an option: 64-bit
    // wrapping multiplies throw under ANSI mode.)
    val saltUdf = udf((id: Long, band: Int, n: Long) =>
      subBucketSalt(id, band, (n + mb - 1) / mb))
    val wSub = org.apache.spark.sql.expressions.Window.partitionBy($"band", $"bucket", $"salt")
    // persisted once: the drop report and the pair explode both read
    // these rows, and the window chain (two in-partition sorts over every
    // banded row) must not run twice
    val members = autoPersist(banded0
      .withColumn("n", count(lit(1)).over(wBucket))
      .filter($"n" >= 2)
      .withColumn("salt",
        when($"n" <= mb, lit(0L)).otherwise(saltUdf($"id", $"band", $"n")))
      .withColumn("m", count(lit(1)).over(wSub))
      .as[(Int, Long, Long, Long, Long, Long)])

    val report = dropReport(members, mb)
    if (report.splitBuckets > 0)
      log.info(s"bucket cap $maxBucket salt-split ${report.splitBuckets} buckets " +
        s"(${report.splitRows} member rows) into <= ~$maxBucket-member sub-buckets; " +
        s"cross-sub-bucket pairs in them are not covered")
    if (report.droppedBuckets > 0)
      log.warn(s"bucket cap $maxBucket dropped ${report.droppedBuckets} skew-pathological " +
        s"sub-buckets (${report.droppedRows} member rows); pairs inside them are NOT covered")
    onDrop(report)

    // size gate BEFORE any member list is collected: only sub-buckets with
    // 2..2*maxBucket members (or whole in-cap buckets) reach collect_list.
    // Every member row carries its own (n, m), so the gate is a plain row
    // filter. A pair shared by several bands is exploded once per band;
    // the distinct's exchange on id_a is the one the caller's join needs.
    members.toDF("band", "bucket", "id", "n", "salt", "m")
      .filter($"m" >= 2 && ($"n" <= mb || $"m" <= 2 * mb))
      .groupBy($"band", $"bucket", $"salt")
      .agg(sort_array(collect_list($"id")).as("ids"))
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> transform(slice(ids, i + 2, size(ids)), b -> struct(a, b))))"
      )).as("p"))
      .select($"p.a".as("id_a"), $"p.b".as("id_b"))
      .repartition($"id_a")
      .distinct()
  }

  /** The split and drop counts of [[cappedBucketPairs]]'s persisted
    * (band, bucket, id, n, salt, m) member rows, in one pass with no
    * exchange: the window's hash exchange put every (band, bucket) group
    * in one partition, so each partition counts its own oversized buckets
    * and sub-buckets, and the driver sums four longs per partition. The
    * key sets hold only oversized buckets, at most rows/maxBucket of them.
    */
  private def dropReport(
      members: Dataset[(Int, Long, Long, Long, Long, Long)],
      mb: Long
  ): DropReport = {
    import members.sparkSession.implicits._
    val perPartition = members.mapPartitions { it =>
      val split = scala.collection.mutable.HashSet.empty[(Int, Long)]
      val dropped = scala.collection.mutable.HashSet.empty[(Int, Long, Long)]
      var splitRows, droppedRows = 0L
      it.foreach { case (band, bucket, _, n, salt, m) =>
        if (n > mb) {
          split += ((band, bucket))
          splitRows += 1
          if (m > 2 * mb) {
            dropped += ((band, bucket, salt))
            droppedRows += 1
          }
        }
      }
      Iterator.single((dropped.size.toLong, droppedRows, split.size.toLong, splitRows))
    }.collect()
    DropReport(perPartition.map(_._1).sum, perPartition.map(_._2).sum,
      perPartition.map(_._3).sum, perPartition.map(_._4).sum)
  }

  /** Scale-adaptive parallelism floor for the per-doc kernel stages
    * (guide §2: derive partitioning from the input instead of tuning a
    * constant): a corpus-scale scan already has >= defaultParallelism
    * splits and passes through untouched; a sub-parallelism input (a
    * single small parquet file — every core but one would idle through
    * the signature/banding compute) is spread once, round-robin.
    * Deciding runs nothing: see [[plannedPartitions]].
    */
  private[graft] def spread[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(ds) < p) ds.repartition(p) else ds
  }

  /** The number of partitions `ds` is planned to have, found without
    * running it. A plan whose output states its partitioning (an
    * exchange, a coalesce) gives that count; under AQE it is the count
    * before any coalescing. A plan with no exchange in it (a file scan, a
    * local relation and the narrow maps over them) builds its RDD without
    * a job, so the RDD is asked. Asking the RDD of a plan with an exchange
    * would run that exchange, so such a plan that states no count (a
    * union of shuffled inputs) counts as parallel.
    */
  private def plannedPartitions(ds: Dataset[_]): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = ds.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val stated = plan.outputPartitioning.numPartitions
    if (stated > 0) stated
    else if (plan.exists(p => p.isInstanceOf[Exchange] || p.isInstanceOf[QueryStageExec])) Int.MaxValue
    else ds.rdd.getNumPartitions
  }

  /** SplitMix64 (public domain). */
  @inline private[graft] def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64-bit over a string's UTF-8 bytes (public domain). */
  private def fnv1a64(s: String): Long = {
    val bytes = s.getBytes(UTF_8)
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xFFL); h *= 0x100000001B3L; i += 1 }
    h
  }

  /** Rolling 64-bit hashes of k-byte shingles. */
  private def shingleHashes(text: Array[Byte], k: Int): Array[Long] = {
    if (text.length < k) return Array(mix(java.util.Arrays.hashCode(text).toLong))
    val out = new Array[Long](text.length - k + 1)
    var i = 0
    while (i + k <= text.length) {
      var h = 0x12345L
      var j = 0
      while (j < k) { h = mix(h ^ (text(i + j) & 0xFFL)); j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  final val NumHashes = 64
  final val Bands = 16 // 16 bands x 4 rows

  // affine permutation family over the (already well-mixed) shingle hash:
  // v_f = A_f * x + B_f with odd A_f is a bijection of Z/2^64 — 2 ops per
  // (shingle, function) instead of a full 9-op mix, and the signature loop
  // is the whole cost of minhash at corpus scale
  private val HashA: Array[Long] = Array.tabulate(NumHashes)(f => mix(0xA11CEL + f) | 1L)
  private val HashB: Array[Long] = Array.tabulate(NumHashes)(f => mix(0xB0BCAFEL + f))

  /** MinHash signature: NumHashes independent (a*x+b) permutation mins. */
  def minHashSignature(text: String, k: Int = 5): Array[Long] = {
    val hs = shingleHashes(text.getBytes(UTF_8), k)
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    val a = HashA
    val b = HashB
    var i = 0
    while (i < hs.length) {
      val x = hs(i)
      var f = 0
      while (f < NumHashes) {
        val v = a(f) * x + b(f)
        if (v < sig(f)) sig(f) = v
        f += 1
      }
      i += 1
    }
    sig
  }

  /** Near-duplicate candidate pairs via banded LSH on MinHash signatures.
    * Returns (key_a, key_b, est_jaccard) with key_a < key_b, each pair
    * once. Keys must be unique: a key given twice pairs with itself and
    * multiplies its pairs.
    */
  def minHashPairs(
      spark: SparkSession,
      docs: Dataset[(Long, String)], // (key, text)
      threshold: Double = 0.5,
      maxBucket: Int = 64,
      onDrop: DropReport => Unit = _ => ()
  ): DataFrame = {
    import spark.implicits._
    val perBand = NumHashes / Bands

    val sigs = autoPersist(spread(docs).map { case (id, text) => (id, minHashSignature(text)) })
      .toDF("id", "sig")

    val banded = sigs.as[(Long, Array[Long])].flatMap { case (id, sig) =>
      (0 until Bands).iterator.map { b =>
        var h = 0xB0B0L + b
        var r = 0
        while (r < perBand) { h = mix(h ^ sig(b * perBand + r)); r += 1 }
        (b, h, id)
      }
    }.toDF("band", "bucket", "id")

    // estimate jaccard by signature agreement; the candidates are unique
    // and keys are unique, so the joins add no duplicate pair
    cappedBucketPairs(banded, maxBucket, onDrop)
      .join(sigs.select($"id".as("id_a"), $"sig".as("sig_a")), "id_a")
      .join(sigs.select($"id".as("id_b"), $"sig".as("sig_b")), "id_b")
      // joins put the join key first — reselect so the positional encoder
      // below binds (id_a, id_b) and not (id_b, id_a)
      .select($"id_a", $"id_b", $"sig_a", $"sig_b")
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, sa, sb) =>
        var eq = 0
        var i = 0
        while (i < NumHashes) { if (sa(i) == sb(i)) eq += 1; i += 1 }
        (a, b, eq.toDouble / NumHashes)
      }
      .toDF("id_a", "id_b", "est_jaccard")
      .filter($"est_jaccard" >= threshold)
  }

  /** 64-bit SimHash over whitespace tokens (weight = term frequency). */
  def simHash(text: String): Long = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    var start = 0
    val s = text
    val acc = new Array[Int](64)
    def addToken(tok: String): Unit =
      if (tok.nonEmpty) counts.update(tok, counts.getOrElse(tok, 0) + 1)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') { addToken(s.substring(start, i)); start = i + 1 }
      i += 1
    }
    addToken(s.substring(start))
    counts.foreach { case (tok, cnt) =>
      val h = mix(tok.hashCode.toLong ^ 0x51A5B37DL)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += cnt else acc(b) -= cnt
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Near-dup pairs with hamming(simhash) <= maxHamming.
    *
    * Band count is DERIVED from the radius: splitting 64 bits into
    * maxHamming+1 contiguous bands guarantees (pigeonhole) that any pair
    * within the radius shares at least one whole band, so recall is
    * complete for the stated radius — except pairs inside buckets the
    * `maxBucket` cap dropped, which are counted and reported via `onDrop`.
    */
  def simHashPairs(
      spark: SparkSession,
      docs: Dataset[(Long, String)],
      maxHamming: Int = 3,
      maxBucket: Int = 256,
      onDrop: DropReport => Unit = _ => ()
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming=$maxHamming: bands of >= 2 bits need maxHamming < 32")
    import spark.implicits._
    val bands = maxHamming + 1
    val hashed = autoPersist(spread(docs).map { case (id, t) => (id, simHash(t)) }).toDF("id", "h")
    val banded = hashed.as[(Long, Long)].flatMap { case (id, h) =>
      (0 until bands).iterator.map { b =>
        val start = b * 64 / bands
        val width = (b + 1) * 64 / bands - start
        (b, (h >>> start) & ((1L << width) - 1), id)
      }
    }.toDF("band", "bucket", "id")
    val cand = cappedBucketPairs(banded, maxBucket, onDrop)
    cand
      .join(hashed.select($"id".as("id_a"), $"h".as("ha")), "id_a")
      .join(hashed.select($"id".as("id_b"), $"h".as("hb")), "id_b")
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter($"hamming" <= maxHamming)
      .select($"id_a", $"id_b", $"hamming")
  }

  /** Exact n-gram (token shingle) Jaccard for a set of candidate pairs —
    * the verification stage after MinHash.
    */
  def ngramJaccard(
      spark: SparkSession,
      docs: Dataset[(Long, String)],
      candidates: DataFrame, // id_a, id_b
      n: Int = 3
  ): DataFrame = {
    import spark.implicits._
    val grams = spread(docs).map { case (id, t) =>
      val toks = t.split(' ')
      val set = (0 to math.max(toks.length - n, 0)).map { i =>
        // full-width 64-bit content hash (FNV-1a over the gram bytes), NOT
        // a mix of String.hashCode: 32-bit collisions at ~10^2 grams/doc
        // would corrupt jaccard at a measurable rate
        fnv1a64(toks.slice(i, i + n).mkString(" "))
      }.toSet
      (id, set.toArray)
    }.toDF("id", "grams")
    candidates
      .join(grams.withColumnRenamed("id", "id_a").withColumnRenamed("grams", "g_a"), "id_a")
      .join(grams.withColumnRenamed("id", "id_b").withColumnRenamed("grams", "g_b"), "id_b")
      // joins put the join key first — reselect so the positional encoder
      // below binds (id_a, id_b) and not (id_b, id_a)
      .select($"id_a", $"id_b", $"g_a", $"g_b")
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, ga, gb) =>
        val sa = ga.toSet
        val sb = gb.toSet
        val inter = sa.intersect(sb).size
        val union = sa.union(sb).size
        (a, b, if (union == 0) 0.0 else inter.toDouble / union)
      }
      .toDF("id_a", "id_b", "jaccard")
  }

  /** Token n-grams of a doc under SQL `string_split` semantics
    * (`split(" ", -1)` keeps empty tokens), joined back with single
    * spaces; docs with fewer than n tokens have none.
    */
  private def tokenGrams(text: String, n: Int): Iterator[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < n) Iterator.empty
    else (0 to ws.length - n).iterator.map(i => ws.slice(i, i + n).mkString(" "))
  }

  /** 64-bit content hashes of every k-token window, O(tokens) per doc:
    * each token FNV-hashed once, windows combined by a rolling polynomial
    * over the token hashes (wrapping 2^64 arithmetic), finalized with
    * splitmix64 for bucket diffusion. Equal windows ⟺ equal hashes up to
    * the usual 2^-64-scale collision rate; avoids materializing any gram
    * string (the allocation cost that dominates the naive form).
    */
  private[pipeline] def windowHashes(text: String, k: Int): Array[Long] = {
    val ws = text.split(" ", -1)
    if (ws.length < k) return Array.empty[Long]
    val th = new Array[Long](ws.length)
    var i = 0
    while (i < ws.length) { th(i) = fnv1a64(ws(i)); i += 1 }
    val B = 0x100000001B3L
    var bk = 1L
    i = 0
    while (i < k) { bk *= B; i += 1 } // B^k
    val out = new Array[Long](ws.length - k + 1)
    var h = 0L
    i = 0
    while (i < ws.length) {
      h = h * B + th(i)
      if (i >= k) h -= th(i - k) * bk
      if (i >= k - 1) out(i - k + 1) = mix(h)
      i += 1
    }
    out
  }

  /** Benchmark decontamination: flag every training document sharing at
    * least one token n-gram with a benchmark (held-out eval) document —
    * the standard n-gram-overlap decontamination pass a training-data
    * pipeline runs before any model sees the corpus.
    *
    * Returns one row per training doc: (doc_id, n_contaminated,
    * contaminated) where n_contaminated counts the doc's DISTINCT n-grams
    * that appear anywhere in the benchmark set.
    *
    * 100 TB shape: benchmark sets are small (eval suites, not corpora) —
    * their distinct grams are collected once, bounded by `maxBenchGrams`
    * (loud failure, not silent truncation), and broadcast; the training
    * side is then ONE narrow mapPartitions probing the broadcast hash set
    * — no explode, no shuffle, no join. `hashGrams = true` stores 64-bit
    * rolling window hashes instead of strings in the broadcast (8
    * bytes/gram at a negligible collision rate, and the per-doc probe
    * never materializes a gram string — the form you'd run at scale);
    * `false` keeps exact strings (the oracle-checked form). A spec test
    * pins both forms equal on the harness corpus.
    */
  def decontaminate(
      spark: SparkSession,
      trainDocs: Dataset[(Long, String)],
      benchDocs: Dataset[(Long, String)],
      n: Int = 5,
      maxBenchGrams: Int = 50000000,
      hashGrams: Boolean = false
  ): DataFrame = {
    import spark.implicits._
    def bounded[T](a: Array[T]): Array[T] = {
      require(a.length <= maxBenchGrams,
        s"benchmark set exceeds $maxBenchGrams distinct $n-grams; " +
          "decontaminate expects an eval-suite-sized benchmark side")
      a
    }
    if (hashGrams) {
      // sorted primitive array + binarySearch, NOT a Set[Long]: boxed set
      // nodes cost ~50 bytes/gram where the array costs the promised 8,
      // and the per-window probe loop never boxes
      val arr = bounded(benchDocs
        .flatMap { case (_, t) => windowHashes(t, n) }
        .distinct().limit(maxBenchGrams + 1).collect())
      java.util.Arrays.sort(arr)
      val bc = spark.sparkContext.broadcast(arr)
      trainDocs.mapPartitions { it =>
        it.map { case (id, t) =>
          val hs = windowHashes(t, n)
          val seen = new java.util.HashSet[Long]()
          var hits = 0
          var i = 0
          while (i < hs.length) {
            if (java.util.Arrays.binarySearch(bc.value, hs(i)) >= 0 && seen.add(hs(i)))
              hits += 1
            i += 1
          }
          (id, hits.toLong, hits > 0)
        }
      }.toDF("doc_id", "n_contaminated", "contaminated")
    } else {
      val bc = spark.sparkContext.broadcast(bounded(benchDocs
        .flatMap { case (_, t) => tokenGrams(t, n) }
        .distinct().limit(maxBenchGrams + 1).collect()).toSet)
      trainDocs.mapPartitions { it =>
        it.map { case (id, t) =>
          val hits = tokenGrams(t, n).toSet.count(bc.value.contains)
          (id, hits.toLong, hits > 0)
        }
      }.toDF("doc_id", "n_contaminated", "contaminated")
    }
  }

  /** Cross-document duplicated-span coverage (the substring-level exact
    * dedup signal of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): a k-token window is DUPLICATED when its
    * exact token sequence occurs at >= 2 positions corpus-wide (other
    * docs or elsewhere in the same doc). Per doc this reports
    * (dup_windows, dup_tokens): the number of duplicated window positions
    * and the number of token positions covered by at least one duplicated
    * window — the quantity a span-cutting dedup pass would remove.
    * Every input row gets exactly one output row (zeros when nothing is
    * duplicated or the doc is shorter than k tokens); a key given twice
    * gets two identical rows, each counting the windows of both copies.
    *
    * 100 TB shape: windows are exploded as 64-bit rolling content hashes
    * (O(tokens) per doc, no gram string ever built) — a narrow flatMap,
    * deliberately NOT cached: at corpus scale the window set dwarfs any
    * cache tier; duplicated-window positions fall out of ONE exchange on
    * the hash: `groupByKey(gh).flatMapGroups` streams each hash group
    * (Spark's spillable sort-based grouping) and a group re-emits its rows
    * exactly when a second row exists — no count-aggregate + rejoin (which
    * would shuffle the window set twice and sort both join sides), no
    * collect_list buffer (a boilerplate gram repeated 10^9 times streams
    * through; nothing materializes a group). The per-doc interval-union
    * fold is the second and final exchange; one (id, -1) sentinel per
    * input row joins it there, so no join back to the docs is needed. Two
    * shuffles total on bounded-width rows (three when `spread` widens a
    * narrow input) — no document text moves past the first map, and the
    * sentinels read only the key column.
    */
  def dupSpanCoverage(
      spark: SparkSession,
      docs: Dataset[(Long, String)],
      k: Int = 8
  ): DataFrame = {
    import spark.implicits._
    val windows = spread(docs).flatMap { case (id, t) =>
      val hs = windowHashes(t, k)
      Iterator.range(0, hs.length).map(i => (hs(i), id, i))
    }
    val dupPositions = windows.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val first = it.next()
        if (!it.hasNext) Iterator.empty
        else (Iterator.single(first) ++ it).map(w => (w._2, w._3))
      }
      .toDF("id", "pos")
    val sentinels = docs.toDF("id", "text").select($"id".cast("long"), lit(-1).as("pos"))
    // per-doc interval-union fold: the duplicated-position lists are
    // doc-length-bounded, so a Tungsten collect_list + sort_array stays
    // codegen'd through the exchange (the former typed groupByKey +
    // in-kernel sort deserialized every row to a tuple first); the fold
    // itself is one typed flatMap over the sorted array, whose leading
    // sentinels say how many rows the key has
    dupPositions.union(sentinels)
      .groupBy($"id")
      .agg(sort_array(collect_list($"pos")).as("ps"))
      .as[(Long, Array[Int])]
      .flatMap { case (id, ps) =>
        var j = 0
        while (j < ps.length && ps(j) < 0) j += 1
        val rows = j
        var dupTokens = 0L
        var covEnd = 0 // exclusive end of covered-so-far interval union
        while (j < ps.length) {
          val s = ps(j)
          val e = s + k
          dupTokens += math.max(0, e - math.max(s, covEnd))
          if (e > covEnd) covEnd = e
          j += 1
        }
        Iterator.fill(rows)((id, (ps.length - rows).toLong, dupTokens))
      }
      .toDF("doc_id", "dup_windows", "dup_tokens")
  }
}
