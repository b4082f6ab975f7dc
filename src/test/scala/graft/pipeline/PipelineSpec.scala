package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

import graft.spark.TestSpark

/** Property tests for the dedup / similarity pipeline operators — the
  * queries the driver can't oracle in SQL (q20/q21/q25) are pinned here
  * against brute-force reference computations instead.
  */
class PipelineSpec extends AnyFunSuite {
  import TestSpark.spark

  private def docsDs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    spark.createDataset(rows)
  }

  // deterministic pseudo-random word soup so simhash distances vary
  private def synthDoc(seed: Int, words: Int = 40): String = {
    val rnd = new scala.util.Random(seed)
    (0 until words).map(_ => s"w${rnd.nextInt(30)}").mkString(" ")
  }

  test("simHashPairs: banded result equals brute-force all-pairs within the radius") {
    val docs = (0L until 40L).map { i =>
      // clusters of near-identical docs (same seed, few word edits)
      val base = synthDoc((i / 4).toInt)
      val words = base.split(' ')
      val rnd = new scala.util.Random(i)
      val mutated = words.zipWithIndex.map { case (w, j) =>
        if (j < (i % 4)) s"m${rnd.nextInt(9)}" else w
      }
      (i, mutated.mkString(" "))
    }
    val maxHamming = 8
    val hashes = docs.map { case (id, t) => id -> Dedup.simHash(t) }.toMap
    val expected = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= maxHamming
    } yield (a, b)).toSet

    val got = Dedup.simHashPairs(spark, docsDs(docs), maxHamming = maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.nonEmpty, "test corpus must actually contain near-dups")
  }

  test("simHashPairs: pigeonhole holds at the q21 radius (maxHamming=8)") {
    // adversarial pair: exactly 8 differing bits spread one per band would
    // defeat a 4-band join; with maxHamming+1=9 bands one band must be clean
    val docs = (0L until 30L).map(i => (i, synthDoc(i.toInt % 6, words = 25)))
    val hashes = docs.map { case (id, t) => id -> Dedup.simHash(t) }.toMap
    val expected = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 8
    } yield (a, b)).toSet
    val got = Dedup.simHashPairs(spark, docsDs(docs), maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("bucket cap: degenerate corpus is salt-split — high recall, no quadratic bucket") {
    // 120 identical docs: every band bucket holds all 120 ids. Cap 64
    // splits each into s=2 sub-buckets with a band-dependent salt, so a
    // pair is covered iff it shares a sub-bucket in >= 1 band:
    // expected coverage 1-(1/2)^bands.
    val docs = (0L until 120L).map(i => (i, "the same boilerplate page text"))
    val total = 120 * 119 / 2
    def expectedPairs(bands: Int): Set[(Long, Long)] =
      (for {
        a <- 0L until 120L; b <- (a + 1) until 120L
        if (0 until bands).exists(band =>
          Dedup.subBucketSalt(a, band, 2) == Dedup.subBucketSalt(b, band, 2))
      } yield (a, b)).toSet

    var report = Dedup.DropReport(0, 0)
    val pairs = Dedup.simHashPairs(spark, docsDs(docs), maxHamming = 3,
      maxBucket = 64, onDrop = r => report = r)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(report.splitBuckets == 4 && report.splitRows == 480) // 4 bands x 120 rows
    assert(report.droppedBuckets == 0, report)
    assert(pairs == expectedPairs(4), // exact split semantics (identical docs pass the hamming filter)
      s"got ${pairs.size}, expected ${expectedPairs(4).size}")
    assert(pairs.size >= (0.85 * total).toInt, s"recall ${pairs.size}/$total") // ~1-(1/2)^4

    var mhReport = Dedup.DropReport(0, 0)
    val mhPairs = Dedup.minHashPairs(spark, docsDs(docs), threshold = 0.5,
      maxBucket = 64, onDrop = r => mhReport = r)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mhReport.splitBuckets == 16 && mhReport.splitRows == 16L * 120)
    assert(mhReport.droppedBuckets == 0, mhReport)
    assert(mhPairs == expectedPairs(16)) // est_jaccard = 1.0 passes the threshold
    assert(mhPairs.size >= (0.95 * total).toInt, s"recall ${mhPairs.size}/$total") // ~1-(1/2)^16
  }

  test("bucket cap: sub-buckets over twice the cap are dropped and reported exactly") {
    // 300 identical docs, cap 2: every band's one bucket (n = 300) is
    // salt-split into 150 sub-buckets; those with 2..4 members pair, those
    // with more are dropped. Brute force over subBucketSalt gives both.
    val n = 300L
    val docs = (0L until n).map(i => (i, "the same boilerplate page text"))
    def expected(bands: Int): (Set[(Long, Long)], Dedup.DropReport) = {
      val subs = for {
        band <- 0 until bands
        members <- (0L until n).groupBy(Dedup.subBucketSalt(_, band, (n + 1) / 2)).values
      } yield members
      val dropped = subs.filter(_.size > 4)
      val pairs = (for {
        m <- subs if m.size >= 2 && m.size <= 4
        a <- m; b <- m if a < b
      } yield (a, b)).toSet
      (pairs, Dedup.DropReport(dropped.size.toLong, dropped.map(_.size.toLong).sum,
        bands.toLong, bands * n))
    }

    var mhReport = Dedup.DropReport(0, 0)
    val mh = Dedup.minHashPairs(spark, docsDs(docs), maxBucket = 2, onDrop = r => mhReport = r)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val (mhPairs, mhExpected) = expected(Dedup.Bands)
    assert(mhExpected == Dedup.DropReport(144, 774, 16, 4800))
    assert(mhReport == mhExpected)
    assert(mh.length == mhPairs.size && mh.map(_._1).toSet == mhPairs)
    assert(mh.forall(_._2 == 1.0))

    var shReport = Dedup.DropReport(0, 0)
    val sh = Dedup.simHashPairs(spark, docsDs(docs), maxHamming = 3, maxBucket = 2,
      onDrop = r => shReport = r)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    val (shPairs, shExpected) = expected(4)
    assert(shExpected.droppedBuckets > 0)
    assert(shReport == shExpected)
    assert(sh.length == shPairs.size && sh.map(_._1).toSet == shPairs)
    assert(sh.forall(_._2 == 0))
  }

  // Spark jobs of each dedup operator, collect included, on a 60-doc
  // in-memory corpus of 4 partitions (so `spread` adds no exchange). Under
  // AQE each exchange runs as a job of its own when its stage is built,
  // and on a corpus this small AQE turns both id joins into broadcast
  // joins that share one broadcast. minHashPairs and simHashPairs start 7:
  //  1. the (band, bucket) window exchange, run when the member rows are
  //     persisted;
  //  2. the drop report's one pass over the persisted member rows;
  //  3. the (band, bucket, salt) groupBy exchange of the pair explode;
  //  4. the signature (hash) table's exchange on id;
  //  5. the broadcast of that table, reused by both joins;
  //  6. the candidates' id_a exchange under their distinct (on a large
  //     corpus the first sort-merge join reuses it);
  //  7. the collect.
  // dupSpanCoverage starts 3: the window-hash exchange, the per-doc
  // groupBy exchange (positions and sentinels together), the collect.
  // Before these pins the counts were 9, 8 and 4: the drop report was an
  // aggregate with an exchange of its own, minHashPairs ended in a second
  // distinct, and dupSpanCoverage joined its result back to the docs.
  test("dedup operators run a pinned number of Spark jobs") {
    val docs = docsDs((0L until 60L).map(i => i -> synthDoc((i / 3).toInt, words = 60)))
    assert(TestSpark.jobsOf(Dedup.minHashPairs(spark, docs).collect()) == 7)
    assert(TestSpark.jobsOf(Dedup.simHashPairs(spark, docs).collect()) == 7)
    assert(TestSpark.jobsOf(Dedup.dupSpanCoverage(spark, docs).collect()) == 3)
  }

  test("minHashPairs finds the planted near-duplicates") {
    val base = synthDoc(1, words = 120)
    val baseWords = base.split(' ')
    val nearDup = baseWords.zipWithIndex // single-token edit
      .map { case (w, j) => if (j == 60) "edited" else w }.mkString(" ")
    val docs = Seq(0L -> base, 1L -> nearDup) ++
      (2L until 20L).map(i => i -> synthDoc(i.toInt + 100, words = 120))
    var report = Dedup.DropReport(0, 0)
    val pairs = Dedup.minHashPairs(spark, docsDs(docs), threshold = 0.5,
      onDrop = r => report = r)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(report == Dedup.DropReport(0, 0))
  }

  test("ngramJaccard matches brute-force string-set jaccard") {
    val docs = (0L until 12L).map(i => (i, synthDoc(i.toInt % 4, words = 30)))
    import spark.implicits._
    val ids = docs.map(_._1)
    val cands = spark.createDataset(for { a <- ids; b <- ids if a < b } yield (a, b))
      .toDF("id_a", "id_b")
    val got = Dedup.ngramJaccard(spark, docsDs(docs), cands)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

    def grams(t: String): Set[String] = {
      val toks = t.split(' ')
      (0 to math.max(toks.length - 3, 0)).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    for { a <- ids; b <- ids if a < b } {
      val (ga, gb) = (grams(docs(a.toInt)._2), grams(docs(b.toInt)._2))
      val expect = ga.intersect(gb).size.toDouble / ga.union(gb).size
      assert(math.abs(got((a, b)) - expect) < 1e-12, s"pair ($a,$b)")
    }
  }

  test("composition: minhash candidates -> exact ngram-jaccard verification") {
    val base = synthDoc(3, words = 150)
    val near = base.split(' ').zipWithIndex
      .map { case (w, j) => if (j % 50 == 25) "swapped" else w }.mkString(" ")
    val docs = Seq(0L -> base, 1L -> near) ++
      (2L until 15L).map(i => i -> synthDoc(i.toInt + 40, words = 150))
    val cands = Dedup.minHashPairs(spark, docsDs(docs), threshold = 0.4)
      .select(org.apache.spark.sql.functions.col("id_a"),
        org.apache.spark.sql.functions.col("id_b"))
    val verified = Dedup.ngramJaccard(spark, docsDs(docs), cands)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(verified.contains((0L, 1L)), s"planted pair missing from $verified")
    assert(verified((0L, 1L)) > 0.8) // 3 token edits in 150 words
  }

  test("bruteForceTopK: heap merge equals naive global sort incl. tie-break") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 200L).map { i =>
      (i, Array.fill(8)(rnd.nextInt(5).toFloat)) // small int coords force cos ties
    }
    import spark.implicits._
    val ds = spark.createDataset(vecs).repartition(7) // heaps span partitions
    val queryIds = Seq(0L, 1L, 2L)
    val k = 10
    val got = Similarity.bruteForceTopK(spark, ds, queryIds, k)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val byId = vecs.toMap
    queryIds.foreach { q =>
      val ranked = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, Similarity.cosine(byId(q), v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(k)
      ranked.zipWithIndex.foreach { case ((id, _), i) =>
        assert(got((q, i + 1)) == id, s"query $q rank ${i + 1}")
      }
    }
  }

  test("lshTopK: ranks are contiguous and cosines exact") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 150L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
    import spark.implicits._
    val ds = spark.createDataset(vecs).repartition(5)
    val byId = vecs.toMap
    val rows = Similarity.lshTopK(spark, ds, Seq(0L, 1L), k = 5).collect()
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      val ranks = rs.map(_.getInt(2)).sorted
      assert(ranks.toSeq == (1 to rs.length))
      rs.foreach { r =>
        val expect = Similarity.cosine(byId(q), byId(r.getLong(1)))
        assert(math.abs(r.getDouble(3) - expect) < 1e-12)
      }
      // ranking is by (cos desc, id asc)
      val sorted = rs.sortBy(r => (-r.getDouble(3), r.getLong(1))).map(_.getInt(2))
      assert(sorted.toSeq == (1 to rs.length))
    }
  }

  test("lshTopK recall: >=0.8 of exact top-k recovered on planted clusters") {
    // 20 clusters of 8 vectors each: cluster members are small perturbations
    // of a shared centroid (cos >= ~0.95), so true neighbors are IN-cluster
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 20).flatMap { c =>
      val centroid = Array.fill(16)(rnd.nextFloat() * 2 - 1)
      (0 until 8).map { m =>
        val v = centroid.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.12f)
        ((c * 8 + m).toLong, v)
      }
    }
    import spark.implicits._
    val ds = spark.createDataset(vecs).repartition(4)
    val queryIds = Seq(0L, 8L, 24L, 80L, 152L)
    val k = 5
    val exact = Similarity.bruteForceTopK(spark, ds, queryIds, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(spark, ds, queryIds, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@$k = $recall (exact=$exact lsh=$lsh)")
  }

  test("ivfTopK: full probe equals brute force; partial probe recall >= 0.8 on clusters") {
    val rnd = new scala.util.Random(19)
    val vecs = (0 until 16).flatMap { c =>
      val centroid = Array.fill(12)(rnd.nextFloat() * 2 - 1)
      (0 until 10).map { m =>
        ((c * 10 + m).toLong, centroid.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.1f))
      }
    }
    import spark.implicits._
    val ds = spark.createDataset(vecs).repartition(4)
    val queryIds = Seq(0L, 35L, 110L)
    val k = 6
    val exact = Similarity.bruteForceTopK(spark, ds, queryIds, k)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    // nProbe == nLists: must equal brute force exactly, rank for rank
    val full = Similarity.ivfTopK(spark, ds, queryIds, k, nLists = 16, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(full == exact)
    // partial probe: high recall on clustered data
    val part = Similarity.ivfTopK(spark, ds, queryIds, k, nLists = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map { case ((q, _), n) => (q, n) }.toSet
    val recall = (part & exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.8, s"IVF recall $recall")
  }

  test("embeddingNearDup: exact pairs match local brute force; LSH variant recall >= 0.8") {
    val rnd = new scala.util.Random(17)
    val vecs = (0 until 15).flatMap { c =>
      val centroid = Array.fill(12)(rnd.nextFloat() * 2 - 1)
      (0 until 6).map { m =>
        ((c * 6 + m).toLong, centroid.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.1f))
      }
    }
    import spark.implicits._
    val ds = spark.createDataset(vecs).repartition(4)
    val byId = vecs.toMap
    val tau = 0.9
    val expected = (for {
      (a, va) <- vecs; (b, vb) <- vecs
      if a < b && Similarity.cosine(va, vb) >= tau
    } yield (a, b)).toSet
    assert(expected.size > 30, s"planted clusters should produce pairs, got ${expected.size}")

    val exact = Similarity.embeddingNearDup(spark, ds, tau, numBlocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == expected, s"missing=${expected -- exact} extra=${exact -- expected}")

    var drop = Dedup.DropReport(0, 0)
    val lsh = Similarity.embeddingNearDupLsh(spark, ds, tau, onDrop = r => drop = r)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(expected), "LSH result must be exact-cosine verified")
    val recall = (lsh & expected).size.toDouble / expected.size
    assert(recall >= 0.8, s"LSH recall $recall (drop=$drop)")
  }

  test("textEncode outlier gate: oversized value bypasses BWT and roundtrips") {
    val big = new Array[Byte](graft.codec.ColumnCodec.MaxBwtDocBytes + 1024)
    val rnd = new scala.util.Random(3)
    var i = 0
    while (i < big.length) { big(i) = ('a' + rnd.nextInt(4)).toByte; i += 1 }
    val enc = graft.codec.Pipelines.textEncode(big)
    assert(enc(0) == 4 || enc(0) == 2, s"expected huffman/raw tag, got ${enc(0)}")
    assert(java.util.Arrays.equals(graft.codec.Pipelines.textDecode(enc), big))
    assert(enc.length < big.length) // 4-symbol text must compress under huffman
  }

  test("multimodal: synthesized BMP/WAV parse back exactly; garbage is rejected") {
    val bmp = Multimodal.synthBmp(33, 17, seed = 5)
    assert(Multimodal.decodeBmp(bmp) == Some(Multimodal.BmpInfo(33, 17, 24)))
    assert(Multimodal.decodeWav(bmp).isEmpty)
    val wav = Multimodal.synthWav(2, 16000, 12345, seed = 6)
    val wi = Multimodal.decodeWav(wav).get
    assert(wi.channels == 2 && wi.sampleRate == 16000 && wi.nSamples == 12345L)
    assert(wi.durationUs == 12345L * 1000000 / 16000)
    assert(Multimodal.decodeBmp(wav).isEmpty)
    // truncated / non-media payloads: clean None, never a crash
    assert(Multimodal.decodeBmp(java.util.Arrays.copyOf(bmp, 30)).isEmpty)
    assert(Multimodal.decodeWav(java.util.Arrays.copyOf(wav, 20)).isEmpty)
    assert(Multimodal.decodeBmp("plain text, not a bitmap at all...............".getBytes(UTF_8)).isEmpty)
    assert(Multimodal.decodeWav("plain text, not a riff wave at all.............".getBytes(UTF_8)).isEmpty)
    // adversarial chunk sizes: 0xFFFFFFF8 (Int step 0 — used to hang), sizes
    // >= 2^31 (used to negative-index), and sub-byte bitsPerSample (used to
    // divide by zero) must all return None, terminate, and not throw
    def patch32(b: Array[Byte], off: Int, v: Long): Array[Byte] = {
      val c = b.clone()
      c(off) = (v & 0xFF).toByte; c(off + 1) = ((v >> 8) & 0xFF).toByte
      c(off + 2) = ((v >> 16) & 0xFF).toByte; c(off + 3) = ((v >> 24) & 0xFF).toByte
      c
    }
    def patch16(b: Array[Byte], off: Int, v: Int): Array[Byte] = {
      val c = b.clone(); c(off) = (v & 0xFF).toByte; c(off + 1) = ((v >> 8) & 0xFF).toByte; c
    }
    assert(Multimodal.decodeWav(patch32(wav, 16, 0xFFFFFFF8L)).isEmpty) // fmt size -> step 0
    assert(Multimodal.decodeWav(patch32(wav, 16, 100000L)).isEmpty) // fmt (mid-stream) overrun
    assert(Multimodal.decodeWav(patch32(wav, 16, 0x80000000L)).isEmpty) // >= 2^31
    for (bits <- Seq(0, 1, 7, 9)) // invalid bitsPerSample: reject, no div-by-zero
      assert(Multimodal.decodeWav(patch16(wav, 34, bits)).isEmpty)
    // a FINAL 'data' chunk whose declared size overruns is the classic
    // truncated download: clamp to the bytes present (still terminates, no
    // index past end), so the media is salvaged rather than dropped
    val truncDecl = Multimodal.decodeWav(patch32(wav, 40, 0xFFFFFFF8L)).get
    assert(truncDecl.nSamples == 12345L && truncDecl.sampleRate == 16000)
    val truncBytes = java.util.Arrays.copyOf(wav, wav.length - 1000) // really truncated file
    val ti = Multimodal.decodeWav(truncBytes).get
    assert(ti.nSamples == 12345L - 250 && Multimodal.sampleWav(truncBytes, 4).isDefined)
    assert(Multimodal.sampleWav(patch32(wav, 40, 0xFFFFFFF8L), 4).isDefined)
    // content featurizer: the q41 payload family must separate — identical
    // groups embed identically (same bytes), different groups stay well
    // below the tau=0.8 near-dup gate (two-hot patterns share <= 1 index)
    val groupEmb = (0L until 40L).map(g =>
      g -> Multimodal.contentEmbedding(graft.SparkEntry.q41Payload(g))).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val crossCos = for (a <- 0L until 40L; b <- (a + 1) until 40L)
      yield cos(groupEmb(a), groupEmb(b))
    val maxCross = crossCos.max
    assert(maxCross < 0.7, s"q41 group separation broke: max cross-group cosine $maxCross")
    info(f"q41 max cross-group cosine: $maxCross%.4f (tau = 0.8)")

    // extractFeatures sniffs kinds end to end
    import TestSpark.spark.implicits._
    val ds = TestSpark.spark.createDataset(Seq(
      (1L, bmp), (2L, wav), (3L, "neither".getBytes(UTF_8))))
    val rows = Multimodal.extractFeatures(TestSpark.spark, ds).collect().sortBy(_.key)
    assert(rows.map(_.media_kind).toSeq == Seq("bmp", "wav", "unknown"))
    assert(rows(0).width == Some(33) && rows(0).height == Some(17))
    assert(rows(1).duration_us == Some(12345L * 1000000 / 16000))
  }

  test("multimodal transforms: BMP resize and WAV frame-sampling are real byte ops") {
    val bmp = Multimodal.synthBmp(40, 24, seed = 9)
    val resized = Multimodal.resizeBmp(bmp, 10, 6).get
    assert(Multimodal.decodeBmp(resized) == Some(Multimodal.BmpInfo(10, 6, 24)))
    // nearest-neighbor: pixel (0,0) of the output is pixel (0,0) of the input
    val srcRow = ((40 * 24 + 31) / 32) * 4
    val dstRow = ((10 * 24 + 31) / 32) * 4
    (0 until 3).foreach(b => assert(resized(54 + b) == bmp(54 + b)))
    // pixel (x=9,y=5) maps to source (36, 20)
    (0 until 3).foreach { b =>
      assert(resized(54 + 5 * dstRow + 9 * 3 + b) == bmp(54 + 20 * srcRow + 36 * 3 + b))
    }
    assert(Multimodal.resizeBmp("junk".getBytes(UTF_8), 4, 4).isEmpty)
    // deterministic: same input -> same bytes
    assert(java.util.Arrays.equals(resized, Multimodal.resizeBmp(bmp, 10, 6).get))

    val wav = Multimodal.synthWav(2, 8000, 1000, seed = 4)
    val sampled = Multimodal.sampleWav(wav, 4).get
    val wi = Multimodal.decodeWav(sampled).get
    assert(wi.nSamples == 250 && wi.channels == 2 && wi.sampleRate == 8000)
    // first kept frame equals the source's first frame; second equals source frame 4
    (0 until 4).foreach(b => assert(sampled(44 + b) == wav(44 + b)))
    (0 until 4).foreach(b => assert(sampled(44 + 4 + b) == wav(44 + 16 + b)))
    assert(Multimodal.sampleWav(bmp, 4).isEmpty)
  }

  test("huffman decode of corrupt payload fails cleanly, not with AIOOBE") {
    val data = ("the quick brown fox " * 50).getBytes(UTF_8)
    val huf = graft.codec.Huffman.compress(data)
    val truncated = java.util.Arrays.copyOfRange(huf, 0, huf.length - math.max(2, huf.length / 8))
    try {
      graft.codec.Huffman.decompress(truncated) // garbage output is fine...
    } catch {
      case _: IllegalArgumentException => // ...and so is a clean error
      case e: ArrayIndexOutOfBoundsException => fail(s"raw AIOOBE escaped: $e")
    }
  }
}
