package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language id,
  * quality scoring, token counting, document fingerprinting. Quality and
  * token counts are pure Catalyst column expressions (codegen'd, pushdown-
  * friendly); languge id and fingerprints are narrow typed maps.
  */
object TextAnalysis {

  /** Whitespace token count as a Column (matches the SQL-oracle formula:
    * chars minus non-space chars + 1; robust only for single-space-
    * separated text, which both sides compute identically anyway).
    */
  def tokenCountCol(text: org.apache.spark.sql.Column) =
    (length(text) - length(regexp_replace(text, " ", "")) + lit(1)).cast("long")

  /** BPE-style pre-tokenizer match count as a Column: the GPT-2 pattern
    * family simplified to be lookahead-free so RE2 (DuckDB) and java.util
    * .regex (Spark codegen) agree — optional-leading-space letter runs,
    * digit runs, punctuation runs, residual spaces. A far better LLM-cost
    * proxy than whitespace splitting (punctuation and numbers tokenize
    * separately).
    */
  final val BpeishPattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  def bpeTokenCountCol(text: org.apache.spark.sql.Column) =
    regexp_count(text, lit(BpeishPattern)).cast("long")

  /** Quality features, all integer/exact so a SQL oracle can reproduce
    * them bit-for-bit.
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCountCol(t))
      .withColumn("n_commas", (length(t) - length(regexp_replace(t, ",", ""))).cast("long"))
      .withColumn("n_digits", (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("long"))
      .withColumn("is_short", length(t) < 200)
  }

  private val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" der ", " die ", " und ", " von ", " das ", " mit "),
    "en" -> Seq(" the ", " of ", " and ", " was ", " for ", " that "),
    "es" -> Seq(" el ", " los ", " las ", " una ", " por ", " para "),
    "fr" -> Seq(" le ", " les ", " des ", " une ", " est ", " dans "),
    "zh" -> Seq("的", "是", "了", "我", "他", "这")
  )

  /** N-gram/stopword-marker language id. Deterministic argmax; ties go to
    * the first language in [[Markers]] order. Marker occurrences are
    * counted NON-overlapping (left-to-right), which is exactly the SQL
    * `(length(t) - length(replace(t, m, ''))) / length(m)` semantics — the
    * property that makes this operator DuckDB-oracle-checkable.
    * Returns (key, guess).
    */
  def languageId(spark: SparkSession, docs: Dataset[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.map { case (id, text) =>
      val padded = " " + text + " "
      var bestLang = "und"
      var bestScore = 0
      Markers.foreach { case (lang, marks) =>
        var score = 0
        marks.foreach { m =>
          var idx = padded.indexOf(m)
          while (idx >= 0) { score += 1; idx = padded.indexOf(m, idx + m.length) }
        }
        if (score > bestScore) { bestScore = score; bestLang = lang }
      }
      (id, bestLang)
    }.toDF("doc_id", "lang_guess")
  }

  /** Karp-Rabin style rolling polynomial fingerprint of the UTF-8 bytes,
    * mod 2^61-1 — a deterministic whole-document content id.
    */
  def fingerprint(text: String): Long =
    fingerprintBytes(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The one fingerprint kernel, over raw UTF-8 bytes: [[fingerprint]] and
    * the `graft_fingerprint` SQL function both call it.
    */
  def fingerprintBytes(bytes: Array[Byte]): Long = {
    val M = (1L << 61) - 1
    val B = 1000003L
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      // h = (h * B + byte) mod M, with 128-bit intermediate via Math.multiplyHigh
      val lo = h * B
      val hi = Math.multiplyHigh(h, B)
      // fold 2^64 ≡ 8 (mod 2^61-1): (hi * 8 + lo) mod M
      var folded = (lo & M) + ((lo >>> 61) | (hi << 3)) + (bytes(i) & 0xFFL)
      while (folded >= M) folded -= M
      h = folded
      i += 1
    }
    h
  }

  def fingerprints(spark: SparkSession, docs: Dataset[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.map { case (id, t) => (id, fingerprint(t)) }.toDF("doc_id", "fp")
  }

  /** Gopher/MassiveText-style repetition statistics per document, over
    * token bigrams: total tokens, distinct bigrams, the most frequent
    * bigram's occurrence count, and an integer-arithmetic repetitiveness
    * flag (`(n_bigrams - distinct_bigrams) * 10 >= n_bigrams`, i.e. >= 10%
    * of bigram slots repeat an earlier bigram — the "duplicate n-gram
    * fraction" filter from the Gopher quality rules, kept float-free so a
    * SQL oracle reproduces the flag bit-for-bit).
    *
    * Tokenization is `split(' ', -1)` — identical to SQL
    * `string_split(text, ' ')` including empty tokens around consecutive
    * or trailing spaces, so both sides count the same slots. Documents
    * with fewer than 2 tokens have no bigrams and are omitted (as the SQL
    * GROUP BY naturally does).
    *
    * 100 TB shape: one narrow map — per-doc hash-map counting, no
    * explode, no shuffle; output is O(docs).
    */
  def repetitionStats(spark: SparkSession, docs: Dataset[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.mapPartitions { it =>
      it.flatMap { case (id, text) =>
        val ws = text.split(" ", -1)
        if (ws.length < 2) Iterator.empty
        else {
          val counts = new java.util.HashMap[String, Int]()
          var i = 0
          var top = 0
          while (i < ws.length - 1) {
            val g = ws(i) + " " + ws(i + 1)
            val c = counts.merge(g, 1, (a, b) => a + b)
            if (c > top) top = c
            i += 1
          }
          val nBigrams = ws.length - 1L
          Iterator.single((id, ws.length.toLong, counts.size.toLong, top.toLong,
            (nBigrams - counts.size) * 10L >= nBigrams))
        }
      }
    }.toDF("doc_id", "n_tokens", "distinct_bigrams", "top_bigram_n", "is_repetitive")
  }

  /** PII patterns chosen from the regex subset where java.util.regex
    * (Spark codegen) and RE2 (DuckDB) agree exactly: no lookaround, no
    * backreferences, unambiguous greedy matching.
    */
  final val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  final val Ipv4Pattern  = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
  final val PhonePattern = "\\+[0-9]+-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"

  /** PII detection counts as pure Catalyst columns (codegen'd). */
  def piiCounts(text: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = Seq(
    regexp_count(text, lit(EmailPattern)).cast("long").as("n_emails"),
    regexp_count(text, lit(Ipv4Pattern)).cast("long").as("n_ips"),
    regexp_count(text, lit(PhonePattern)).cast("long").as("n_phones"))

  /** PII redaction as a pure Catalyst column: emails first (their domain
    * part must not be re-matched as an IPv4-looking dotted run), then IPs,
    * then phone numbers. Replacement order is part of the operator
    * contract — the SQL twin must chain `regexp_replace` identically.
    *
    * 100 TB shape: narrow codegen'd projection; no shuffle, pushdown
    * unaffected.
    */
  def piiRedact(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailPattern), lit("<EMAIL>")),
        lit(Ipv4Pattern), lit("<IP>")),
      lit(PhonePattern), lit("<PHONE>"))
}
