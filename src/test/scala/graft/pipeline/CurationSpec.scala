package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.spark.TestSpark

/** Curation wave-2 operators (q58-q61): repetition stats, PII redaction,
  * benchmark decontamination, duplicated-span coverage. Each is pinned
  * against a brute-force reference here; the SQL-oracle agreement is the
  * driver's CORRECTNESS gate.
  */
class CurationSpec extends AnyFunSuite {
  import TestSpark.spark

  private def docsDs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    spark.createDataset(rows)
  }

  // ------------------------------------------------------------ q58

  test("repetitionStats: counts match brute force; split keeps empty tokens; <2-token docs omitted") {
    val docs = Seq(
      0L -> "a b a b a b c",        // bigrams: ab ba ab ba ab bc -> top "a b" = 3
      1L -> "x y  z",               // double space -> empty token, SQL split semantics
      2L -> "solo",                 // 1 token: no bigrams, omitted
      3L -> "r r r r r r r r r r") // maximally repetitive
    val got = TextAnalysis.repetitionStats(spark, docsDs(docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap

    assert(!got.contains(2L))
    assert(got(0L) == ((7L, 3L, 3L, true)))   // 6 bigrams, 3 distinct: dup 3/6 >= 10%
    // "x y  z" -> tokens [x, y, "", z]: bigrams "x y", "y ", " z" all distinct
    assert(got(1L) == ((4L, 3L, 1L, false)))
    assert(got(3L) == ((10L, 1L, 9L, true)))
  }

  // ------------------------------------------------------------ q59

  test("piiRedact: email before IP before phone, counts agree, non-PII text untouched") {
    import spark.implicits._
    val rows = Seq(
      (0L, "mail bob.smith+x@corp.example.org here"),
      (1L, "server at 192.168.0.1 and 10.0.0.255 up"),
      (2L, "call +1-555-0199 or +44-555-0100 now"),
      // an email whose domain is a dotted digit run: the independent IP
      // DETECTOR sees it too, but in REDACTION the email pass runs first,
      // so the IP pass never gets a crack at the domain
      (3L, "odd x@1.2.3.4.com case"),
      (4L, "clean text, no pii at all"))
    val df = rows.toDF("doc_id", "text")
    val out = df.select(
      (org.apache.spark.sql.functions.col("doc_id") +:
        TextAnalysis.piiCounts(org.apache.spark.sql.functions.col("text"))) :+
        TextAnalysis.piiRedact(org.apache.spark.sql.functions.col("text")).as("red"): _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap

    assert(out(0L) == ((1L, 0L, 0L, "mail <EMAIL> here")))
    assert(out(1L) == ((0L, 2L, 0L, "server at <IP> and <IP> up")))
    assert(out(2L) == ((0L, 0L, 2L, "call <PHONE> or <PHONE> now")))
    assert(out(3L) == ((1L, 1L, 0L, "odd <EMAIL> case")))
    assert(out(4L) == ((0L, 0L, 0L, "clean text, no pii at all")))
  }

  // ------------------------------------------------------------ q60

  test("decontaminate: overlap counts match brute force; hashed and string forms agree") {
    val bench = Seq(
      100L -> "the quick brown fox jumps over the lazy dog",
      101L -> "pack my box with five dozen liquor jugs")
    val train = Seq(
      0L -> "he saw the quick brown fox jumps over a fence", // shares 1 distinct 5-gram window chain
      1L -> "pack my box with five dozen liquor jugs",       // exact dup of 101: all its 5-grams
      2L -> "completely fresh material nothing shared here at all")
    val n = 5

    def grams(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" ")).toSet
    }
    val benchSet = bench.flatMap(d => grams(d._2)).toSet
    val expected = train.map { case (id, t) => id -> grams(t).count(benchSet) }.toMap

    for (hashed <- Seq(false, true)) {
      val got = Dedup.decontaminate(spark, docsDs(train), docsDs(bench),
          n = n, hashGrams = hashed)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(got.keySet == expected.keySet)
      expected.foreach { case (id, cnt) =>
        assert(got(id) == ((cnt.toLong, cnt > 0)), s"doc $id hashed=$hashed")
      }
    }
    assert(expected(1L) == 4 && expected(0L) > 0 && expected(2L) == 0,
      "fixture must exercise full-dup, partial-overlap and clean docs")
  }

  test("decontaminate: oversized benchmark fails loudly before broadcasting") {
    val bench = Seq(0L -> "a b c d e f g h i j")
    val e = intercept[IllegalArgumentException] {
      Dedup.decontaminate(spark, docsDs(Seq(1L -> "a b c d e")), docsDs(bench),
        n = 5, maxBenchGrams = 3)
    }
    assert(e.getMessage.contains("benchmark set exceeds"))
  }

  // ------------------------------------------------ rolling window hashes

  test("windowHashes: rolling hashes agree with equality of the materialized grams (seeded random corpus)") {
    val rnd = new scala.util.Random(20260817L)
    // small vocab + mutated repeats force genuine cross-doc window collisions
    def doc(): String = (0 until (5 + rnd.nextInt(40)))
      .map(_ => s"t${rnd.nextInt(12)}").mkString(" ")
    val base = (0 until 60).map(_ => doc())
    // cloned docs guarantee exact repeated windows at EVERY k (the random
    // vocab alone has none at k=8: 12^8 distinct grams)
    val texts = base ++ base.take(12) ++ Seq("", "one", "a b", "x  y  z", "a b c d e f g h")
    for (k <- Seq(2, 5, 8)) {
      val byGram = scala.collection.mutable.Map.empty[String, Long]
      var windows = 0L
      texts.foreach { t =>
        val ws = t.split(" ", -1)
        val hs = Dedup.windowHashes(t, k)
        val expected = math.max(0, ws.length - k + 1)
        assert(hs.length == expected, s"k=$k '$t': ${hs.length} windows, expected $expected")
        hs.zipWithIndex.foreach { case (h, i) =>
          val gram = ws.slice(i, i + k).mkString(" ")
          byGram.get(gram) match {
            case Some(prev) => assert(prev == h, s"equal grams must hash equal: '$gram'")
            case None       => byGram(gram) = h
          }
          windows += 1
        }
      }
      // injectivity on this corpus: distinct grams -> distinct hashes
      // (a collision here would silently inflate dup-span coverage)
      assert(byGram.values.toSeq.distinct.size == byGram.size,
        s"k=$k: hash collision between distinct grams")
      assert(windows > 500 && byGram.size < windows,
        s"k=$k fixture must contain real repeats (windows=$windows distinct=${byGram.size})")
    }
  }

  // ------------------------------------------------------------ q63

  test("stratifiedSample: pure row function, partitioning-invariant, delta-resumable") {
    val rows = (0L until 400L).map(i => (i, if (i % 3 == 0) "en" else "xx"))
    val rates = Map("en" -> ((1, 2)))
    def expected(subset: Seq[(Long, String)]): Set[(Long, String, Long)] =
      subset.flatMap { case (id, st) =>
        val den = if (st == "en") 2 else 4
        val u = (Dedup.mix(id + 1) & Long.MaxValue) % den
        if (u < 1) Some((id, st, u)) else None
      }.toSet

    def run(subset: Seq[(Long, String)], parts: Int) =
      Sampling.stratifiedSample(spark, docsDs(subset).repartition(parts),
          rates, defaultRate = (1, 4), salt = 1L)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    val full = run(rows, 4)
    assert(full == expected(rows))
    assert(full.nonEmpty && full.size < rows.size)
    // partitioning must not change the draw (no per-partition RNG state)
    assert(run(rows, 1) == full && run(rows, 13) == full)
    // resumable: sampling a delta keeps exactly the full run's rows
    val delta = rows.filter(_._1 >= 300)
    assert(run(delta, 3) == full.filter(_._1 >= 300))
  }

  test("stratifiedSample: invalid rates fail loudly") {
    val e = intercept[IllegalArgumentException] {
      Sampling.stratifiedSample(spark, docsDs(Seq(1L -> "en")), Map("en" -> ((3, 2))))
    }
    assert(e.getMessage.contains("rate"))
  }

  // ------------------------------------------------------------ q61

  test("dupSpanCoverage: cross-doc, within-doc, and overlapping windows union correctly") {
    val k = 4
    val shared = "alpha beta gamma delta" // one shared k-window
    val docs = Seq(
      0L -> s"one two $shared three four",       // window at token 2
      1L -> s"$shared five six seven eight",     // window at token 0
      2L -> "rep rep rep rep rep",               // within-doc: windows 0,1 both = "rep rep rep rep"
      3L -> "unique tokens only here now",       // nothing duplicated
      4L -> "tiny doc")                          // < k tokens
    val got = Dedup.dupSpanCoverage(spark, docsDs(docs), k = k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    assert(got(0L) == ((1L, 4L)))  // one dup window covering 4 tokens
    assert(got(1L) == ((1L, 4L)))
    assert(got(2L) == ((2L, 5L)))  // windows at 0 and 1 overlap: union = 5 tokens
    assert(got(3L) == ((0L, 0L)))
    assert(got(4L) == ((0L, 0L)))
  }

  test("dupSpanCoverage: an empty corpus gives no rows") {
    assert(Dedup.dupSpanCoverage(spark, docsDs(Seq.empty), k = 4).count() == 0)
  }

  test("dupSpanCoverage: a key given twice gets two identical rows over both copies") {
    // both copies' windows land on key 7: each copy's 3 windows occur
    // twice, so key 7 has 6 duplicated window positions covering 6 tokens
    val twice = "a b c d e f"
    val docs = Seq(7L -> twice, 7L -> twice, 8L -> "g h i j k l")
    val got = Dedup.dupSpanCoverage(spark, docsDs(docs), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == Seq((7L, 6L, 6L), (7L, 6L, 6L), (8L, 0L, 0L)))
  }
}
