package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteForceTopK` is the exact baseline: broadcast the (small) query set,
  * one narrow pass over the corpus that scores AND keeps only a bounded
  * per-partition top-k heap per query, then a tiny final merge over
  * <= numPartitions * k rows per query. No corpus-sized exchange exists
  * anywhere in the plan — the scored rows die inside the task that
  * produced them (a global `row_number` window here would shuffle
  * |corpus| x |queries| rows to one hot partition per query; that
  * straggler is what kills the plan at 100x).
  *
  * `lshTopK` is the scale path: random-hyperplane signatures bucket the
  * corpus; each query only scores its own buckets (multi-probe = exact
  * band match on any of the bands). Recall is tunable by bands/bits; the
  * final top-k is the same bounded heap merge.
  */
object Similarity {

  /** Seed of the deterministic RHP hyperplane family. ONE constant shared
    * by the in-memory lshTopK/embeddingNearDupLsh paths and the stored
    * AnnIndexJob RHP index — if they ever diverged, stored-vs-in-memory
    * parity would break silently in the approximate regime.
    */
  final val RhpSeed = 0xC0FFEEL

  /** Worst-kept-first ordering for a bounded top-k heap under the result
    * order (cos desc, nbr_id asc): the heap head is the element the next
    * better candidate evicts.
    */
  private[pipeline] val worstFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1) // lower cos = worse = greater
      if (c != 0) c else java.lang.Long.compare(a._2, b._2) // higher id = worse
    }
  }

  private[pipeline] def pushBounded(
      heap: scala.collection.mutable.PriorityQueue[(Double, Long)],
      cand: (Double, Long),
      k: Int
  ): Unit = {
    if (heap.size < k) heap.enqueue(cand)
    else if (worstFirst.compare(cand, heap.head) < 0) { // cand better than worst kept
      heap.dequeue(); heap.enqueue(cand)
    }
  }

  /** Merge per-partition partial top-k rows into ranked (query_id, nbr_id,
    * rank, cos) — each group holds <= numPartitions * k rows, so this
    * shuffle is O(|queries| * partitions * k), independent of corpus size.
    */
  private[pipeline] def mergeTopK(
      spark: SparkSession,
      partial: Dataset[(Long, Long, Double)],
      k: Int
  ): DataFrame = {
    import spark.implicits._
    partial
      .groupByKey(_._1)
      .flatMapGroups { (qid, rows) =>
        val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst)
        rows.foreach(r => pushBounded(heap, (r._3, r._2), k))
        // worst-first dequeue -> reverse = best-first
        val best: List[(Double, Long)] = heap.dequeueAll.toList.reverse
        best.iterator.zipWithIndex
          .map { case ((cos, nbr), i) => (qid, nbr, i + 1, cos) }
      }
      .toDF("query_id", "nbr_id", "rank", "cos")
  }

  /** Fetch query vectors with a pushdown-friendly `isin` filter (a typed
    * lambda filter here would force a full-corpus scan for a handful of
    * ids).
    */
  private[pipeline] def collectQueries(
      vectors: Dataset[(Long, Array[Float])],
      queryIds: Seq[Long]
  ): Array[(Long, Array[Float])] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors.toDF("id", "vec")
      .filter(col("id").isin(queryIds: _*))
      .as[(Long, Array[Float])]
      .collect()
  }

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Exact top-k cosine neighbors for each query id. */
  def bruteForceTopK(
      spark: SparkSession,
      vectors: Dataset[(Long, Array[Float])],
      queryIds: Seq[Long],
      k: Int
  ): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(collectQueries(vectors, queryIds))
    val partial = vectors.mapPartitions { it =>
      val qs = bc.value
      val heaps = qs.map { case (qid, _) =>
        qid -> scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst)
      }
      it.foreach { case (id, vec) =>
        var i = 0
        while (i < qs.length) {
          val (qid, qvec) = qs(i)
          if (qid != id) pushBounded(heaps(i)._2, (cosine(qvec, vec), id), k)
          i += 1
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (cos, nbr) => (qid, nbr, cos) }
      }
    }
    mergeTopK(spark, partial, k).select($"query_id", $"nbr_id", $"rank")
  }

  /** Hard ceiling for the exact near-dup tier. At the measured kernel rate
    * (2.4e7 cosine evaluations/s/core on dim-16 floats — BENCH/BASELINE.md
    * §Exact-tier crossover) 2^21 vectors is ~2.2e12 pair evaluations —
    * ~47 min on a 32-core node, the outer edge of "verification-scale".
    * Beyond it [[embeddingNearDupLsh]] (banded candidates + exact verify)
    * is the only viable path, so the exact tier refuses rather than
    * silently launching an n^2 job on a corpus-scale table.
    */
  final val ExactTierMaxVectors: Long = 1L << 21

  /** Exact embedding-cosine near-duplicate pairs: every (id_a < id_b)
    * with cosine >= threshold.
    *
    * Plan: split the corpus into `numBlocks` deterministic hash-blocks of
    * the Long id (balanced in expectation, exact on the full id range —
    * quantile-derived boundaries round-tripped ids through Double and
    * could mis-bucket ids above 2^53); each block is collected + broadcast
    * and scored against the whole corpus in one narrow pass — no
    * corpus-sized shuffle ever, driver/executor memory bounded by one
    * block of vectors. Compute is O(n^2/p): this is the exact tier,
    * `require`-capped at [[ExactTierMaxVectors]]; [[embeddingNearDupLsh]]
    * is the sublinear scale path.
    */
  def embeddingNearDup(
      spark: SparkSession,
      vectors: Dataset[(Long, Array[Float])],
      threshold: Double,
      numBlocks: Int = 16
  ): DataFrame = {
    import spark.implicits._
    val ds = Dedup.autoPersist(vectors)
    val n = ds.count()
    require(n <= ExactTierMaxVectors,
      s"embeddingNearDup is the exact O(n^2/p) verification tier, capped at " +
        s"$ExactTierMaxVectors vectors (corpus has $n); use embeddingNearDupLsh for corpus scale")
    val blocks = (0 until numBlocks).flatMap { k =>
      val block = ds.filter(r => Math.floorMod(mix(r._1), numBlocks.toLong) == k.toLong).collect()
      if (block.isEmpty) None
      else {
        val bc = spark.sparkContext.broadcast(block)
        Some(ds.mapPartitions { it =>
          val blk = bc.value
          it.flatMap { case (id, v) =>
            blk.iterator.collect {
              case (qid, qv) if id < qid && cosine(v, qv) >= threshold => (id, qid)
            }
          }
        }.toDF("id_a", "id_b"))
      }
    }
    if (blocks.isEmpty) spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b")
    else blocks.reduce(_ union _)
  }

  /** Sublinear embedding-cosine near-dup: RHP-banded corpus self-join
    * (bucket sizes counted before any member list exists, oversized
    * buckets dropped with a reported count — the same cap machinery as
    * the text dedup), then exact cosine verification of candidates.
    * Recall is the banding probability (tunable via bands/bits); the
    * exact operator above is the ground truth it is tested against.
    */
  def embeddingNearDupLsh(
      spark: SparkSession,
      vectors: Dataset[(Long, Array[Float])],
      threshold: Double,
      bands: Int = 8,
      bitsPerBand: Int = 8,
      maxBucket: Int = 1024,
      onDrop: Dedup.DropReport => Unit = _ => ()
  ): DataFrame = {
    import spark.implicits._
    val banded = vectors.flatMap { case (id, vec) =>
      val sig = rhpSignature(vec, bands * bitsPerBand, RhpSeed)
      (0 until bands).iterator.map { b =>
        (b, (sig >>> (b * bitsPerBand)) & ((1L << bitsPerBand) - 1), id)
      }
    }.toDF("band", "bucket", "id")
    val cand = Dedup.cappedBucketPairs(banded, maxBucket, onDrop)
    val vecById = vectors.toDF("id", "vec")
    cand
      .join(vecById.select($"id".as("id_a"), $"vec".as("va")), "id_a")
      .join(vecById.select($"id".as("id_b"), $"vec".as("vb")), "id_b")
      .select($"id_a", $"id_b", $"va", $"vb")
      .as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions { it =>
        it.collect { case (a, b, va, vb) if cosine(va, vb) >= threshold => (a, b) }
      }
      .toDF("id_a", "id_b")
  }

  /** IVF (inverted-file) ANN: a deterministic coarse quantizer — nLists
    * centroids = the corpus vectors with the lowest xxhash64(id) ranks —
    * assigns every vector to its nearest centroid's list; a query scores
    * only vectors in its nProbe nearest lists. The second index family
    * next to RHP-LSH: lists follow the data distribution, so clustered
    * embedding spaces probe far fewer candidates than hyperplane buckets.
    *
    * Shape matches [[bruteForceTopK]]: one narrow corpus pass (assignment
    * + gated scoring into bounded per-partition heaps), tiny final merge,
    * no corpus-sized exchange. nProbe = nLists degenerates to exact brute
    * force (the oracle-able configuration).
    *
    * NOTE this form re-assigns the whole corpus on EVERY query batch — it
    * is the verification-tier path. For repeated searches use
    * [[AnnIndexJob.buildIvf]] + [[AnnIndexJob.searchIvf]]: the stored,
    * `partitionBy(list_id)` index makes each search a partition-pruned
    * scan of only the probed lists.
    */
  def ivfTopK(
      spark: SparkSession,
      vectors: Dataset[(Long, Array[Float])],
      queryIds: Seq[Long],
      k: Int,
      nLists: Int = 64,
      nProbe: Int = 8
  ): DataFrame = {
    import spark.implicits._
    val df = vectors.toDF("id", "vec")
    val cents: Array[Array[Float]] = df
      .withColumn("r", xxhash64(col("id")))
      .orderBy(col("r"), col("id"))
      .limit(nLists)
      .select($"vec").as[Array[Float]]
      .collect()
    val queries = collectQueries(vectors, queryIds)

    def nearestLists(v: Array[Float], np: Int): Array[Int] =
      cents.indices
        .map(c => (c, cosine(cents(c), v)))
        .sortBy { case (c, cos) => (-cos, c) }
        .take(np).map(_._1).toArray

    val qProbes = queries.map { case (qid, qv) => (qid, qv, nearestLists(qv, nProbe).toSet) }
    val bcC = spark.sparkContext.broadcast(cents)
    val bcQ = spark.sparkContext.broadcast(qProbes)

    val partial = vectors.mapPartitions { it =>
      val cs = bcC.value
      val qs = bcQ.value
      val heaps = qs.map { case (qid, _, _) =>
        qid -> scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst)
      }
      it.foreach { case (id, vec) =>
        var bestList = 0
        var bestCos = -2.0
        var c = 0
        while (c < cs.length) {
          val cc = cosine(cs(c), vec)
          if (cc > bestCos) { bestCos = cc; bestList = c }
          c += 1
        }
        var qi = 0
        while (qi < qs.length) {
          val (qid, qv, probes) = qs(qi)
          if (qid != id && probes.contains(bestList))
            pushBounded(heaps(qi)._2, (cosine(qv, vec), id), k)
          qi += 1
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (cos, nbr) => (qid, nbr, cos) }
      }
    }
    mergeTopK(spark, partial, k).select($"query_id", $"nbr_id", $"rank", $"cos")
  }

  /** Random-hyperplane signature: `bits` sign bits from deterministic
    * pseudo-random hyperplanes (hash-derived, no stored planes).
    */
  def rhpSignature(vec: Array[Float], bits: Int, seed: Long): Long = {
    var sig = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      while (i < vec.length) {
        // deterministic pseudo-gaussian-ish weight in [-1, 1)
        val h = mix(seed ^ (b.toLong << 32) ^ i)
        dot += vec(i) * ((h >> 11).toDouble / (1L << 52).toDouble)
        i += 1
      }
      if (dot >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Bucketed ANN: candidates match at least one signature band of the
    * query within `multiProbe` flipped bits; exact cosine + top-k within
    * candidates.
    *
    * Recall/cost knob: multiProbe=0 is the exact-band match (cheapest,
    * recall only for very similar vectors); each +1 probes all
    * one-more-bit-away buckets of every band. At cos≈0.9 neighbors,
    * (bands=4, bits=8, multiProbe=1) measures >=0.8 recall@k on planted
    * clusters (SimilaritySpec); exact-band drops to ~0.1 on weakly
    * similar data — the brute-force operator is the exact baseline, this
    * one is the sublinear scale path for strong-similarity workloads.
    *
    * NOTE this form re-bands the whole corpus on EVERY query batch — it is
    * the verification-tier path. For repeated searches use
    * [[AnnIndexJob.buildRhp]] + [[AnnIndexJob.searchRhp]]: the stored,
    * `partitionBy(band)` bucket-sorted index turns candidate generation
    * into a row-group-pruned probe scan.
    */
  def lshTopK(
      spark: SparkSession,
      vectors: Dataset[(Long, Array[Float])],
      queryIds: Seq[Long],
      k: Int,
      bands: Int = 4,
      bitsPerBand: Int = 8,
      multiProbe: Int = 1
  ): DataFrame = {
    import spark.implicits._
    val banded = vectors.flatMap { case (id, vec) =>
      val sig = rhpSignature(vec, bands * bitsPerBand, RhpSeed)
      (0 until bands).iterator.map { b =>
        (b, (sig >>> (b * bitsPerBand)) & ((1L << bitsPerBand) - 1), id)
      }
    }.toDF("band", "bucket", "id")

    val queries = collectQueries(vectors, queryIds)
    val bc = spark.sparkContext.broadcast(queries.map { case (id, v) =>
      (id, v, rhpSignature(v, bands * bitsPerBand, RhpSeed))
    })
    val vecById = vectors.toDF("id", "vec")

    val cands = banded.as[(Int, Long, Long)].mapPartitions { it =>
      val qs = bc.value
      val mask = (1L << bitsPerBand) - 1
      it.flatMap { case (band, bucket, id) =>
        qs.iterator.collect {
          case (qid, _, qsig)
              if qid != id &&
                java.lang.Long.bitCount(((qsig >>> (band * bitsPerBand)) & mask) ^ bucket) <= multiProbe =>
            (qid, id)
        }
      }
    }.toDF("query_id", "nbr_id").distinct()

    // score candidates and keep only a bounded per-partition heap per query
    val partial = cands
      .join(vecById.withColumnRenamed("id", "nbr_id"), "nbr_id")
      .as[(Long, Long, Array[Float])]
      .mapPartitions { it =>
        val qs = bc.value.map(q => q._1 -> q._2).toMap
        val heaps = scala.collection.mutable.HashMap
          .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
        it.foreach { case (nbr, qid, vec) =>
          val h = heaps.getOrElseUpdate(qid,
            scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
          pushBounded(h, (cosine(qs(qid), vec), nbr), k)
        }
        heaps.iterator.flatMap { case (qid, h) =>
          h.iterator.map { case (cos, nbr) => (qid, nbr, cos) }
        }
      }
    mergeTopK(spark, partial, k).select($"query_id", $"nbr_id", $"rank", $"cos")
  }
}
