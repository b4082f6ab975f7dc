package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import graft.spark.Page

/** A generated corpus. `nearDupOf(i) = j` marks page i as a near-duplicate
  * of the earlier original page j (same tokens with a few substituted).
  */
final case class Corpus(pages: IndexedSeq[Page], nearDupOf: Map[Int, Int]) {
  val rawBytes: Long = pages.iterator.map(Gen.rawBytes).sum
  val textBytes: Long = pages.iterator.map(_.text.getBytes(UTF_8).length.toLong).sum
}

/** The benchmark's own seeded page generator. It deliberately does not use
  * `graft.spark.PagesGen`: a product change must not be able to move the
  * workload. The same seed gives the same pages on any JVM.
  *
  * Input properties the engine's behaviour depends on:
  *  - 5 languages with distinct vocabularies (en 40%, fr/es/zh/de 15% each),
  *    word frequencies Zipf-distributed;
  *  - url-host skew: 80% of pages sit on 5% of the hosts;
  *  - heavy-tailed document lengths (Pareto, alpha 1.3);
  *  - per-host HTML boilerplate (head, nav, footer) around the text;
  *  - a fixed fraction of near-duplicate texts, so MinHash, dup-span
  *    coverage and FM search have real hits.
  */
object Gen {

  private val Langs: Array[String] = Array("en", "fr", "es", "zh", "de")
  private val LangCum = Array(40, 55, 70, 85, 100)
  private val NearDupFraction = 0.10
  private val NearDupEditRate = 0.02
  private val VocabSize = 3000

  private val Syllables: Map[String, Array[String]] = Map(
    "en" -> "th er on an re he in ed nd ha at en es of or nt ea ti to it st io le is ou ar as de rt ve".split(' '),
    "fr" -> "le es de en on nt re ou ai er qu an la ur se ti ion ne me te eu oi au ch".split(' '),
    "es" -> "de la os ar er en es do as ra ta co ci on ue el que re nt ad ca mo".split(' '),
    "de" -> "en er ch ei ie in de te ge st un nd ich sch be ung au an ss ver zu".split(' ')
  )

  /** Per-language vocabulary; fixed (not seeded) like a real language. */
  private val Vocab: Map[String, Array[String]] = Langs.map { lang =>
    val rng = new SplittableRandom(lang.hashCode.toLong * 7919L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val sb = new java.lang.StringBuilder
      if (lang == "zh") {
        val n = 1 + rng.nextInt(3)
        for (_ <- 0 until n) sb.appendCodePoint(0x4E00 + rng.nextInt(2500))
      } else {
        val syl = Syllables(lang)
        val n = 1 + rng.nextInt(4)
        for (_ <- 0 until n) sb.append(syl(rng.nextInt(syl.length)))
      }
      seen += sb.toString
    }
    lang -> seen.toArray
  }.toMap

  /** Zipf(1.05) cumulative weights over vocabulary ranks. */
  private val ZipfCum: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1, 1.05))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def sampleCum(cum: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cum, u)
    math.min(if (i >= 0) i else -i - 1, cum.length - 1)
  }

  private def word(lang: String, rng: SplittableRandom): String =
    Vocab(lang)(sampleCum(ZipfCum, rng.nextDouble()))

  private def pickLang(rng: SplittableRandom): String = {
    val r = rng.nextInt(100)
    Langs(LangCum.indexWhere(r < _))
  }

  /** Pareto(xm, alpha = 1.3) token count at quantile u, capped. */
  private def paretoTokens(u: Double, xm: Int, cap: Int): Int =
    math.min(cap, (xm / math.pow(1.0 - u, 1.0 / 1.3)).toInt)

  /** Lengths of `n` original texts: the Pareto quantiles at (i + 0.5) / n,
    * so every seed gets the same heavy-tailed multiset of lengths.
    */
  private def originalLengths(n: Int, xm: Int): Array[Int] =
    Array.tabulate(n)(i => paretoTokens((i + 0.5) / n, xm, 20 * xm))

  /** Host of each of `n` pages with the 80%-on-5%-of-hosts skew, as exact
    * counts: 80% of the pages spread evenly over the hot hosts, the rest
    * evenly over all hosts. The caller shuffles it.
    */
  private def hostSlots(n: Int, numHosts: Int): Array[Int] = {
    val hot = math.max(numHosts / 20, 1)
    val onHot = math.round(0.8 * n).toInt
    Array.tabulate(n)(i => if (i < onHot) i % hot else (i - onHot) % numHosts)
  }

  private def shuffle(a: Array[Int], rng: SplittableRandom): Unit =
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }

  private final case class HostStyle(lang: String, head: String, mid: String, foot: String)

  /** Per-host boilerplate: seeded by (seed, host), shared by all its pages.
    * The host's language is a fixed function of the host, so every seed
    * gives the hot hosts the same language mix.
    */
  private def hostStyle(seed: Long, host: Int): HostStyle = {
    val rng = new SplittableRandom(seed * 1000003L + host)
    val lang = Langs(LangCum.indexWhere(((host * 37 + 11) % 100) < _))
    val css = java.lang.Long.toHexString(rng.nextLong() & 0xFFFFFFFFL)
    val nav = (0 until 6 + rng.nextInt(7)).map { _ =>
      val w = word(lang, rng)
      s"""<li class="nav-item"><a href="/${w}/" title="$w">$w</a></li>"""
    }.mkString
    val head =
      s"""<!DOCTYPE html><html lang="$lang"><head><meta charset="utf-8">""" +
        s"""<link rel="stylesheet" href="/static/site-$css.css">""" +
        s"""<script src="/static/app-$css.js" defer></script><title>"""
    val mid =
      s"""</title></head><body class="site-h$host"><header><nav><ul>$nav</ul></nav></header>""" +
        """<main><article><p>"""
    val foot =
      s"""</p></article></main><footer><p>&copy; host$host.example</p>""" +
        s"""<ul class="legal"><li><a href="/privacy">privacy</a></li>""" +
        s"""<li><a href="/terms">terms</a></li></ul></footer></body></html>"""
    HostStyle(lang, head, mid, foot)
  }

  private def html(style: HostStyle, title: String, text: String): Array[Byte] =
    (style.head + title + style.mid + text.replace("\n", "</p><p>") + style.foot).getBytes(UTF_8)

  private def url(host: Int, key: Long, i: Int): String =
    s"https://host$host.example/p/${java.lang.Long.toHexString(key)}-$i"

  private val Epoch = java.time.Instant.parse("2024-01-01T00:00:00Z")

  /** About `budget` tokens of pages. The corpus's shape is the same for
    * every seed: the page count, the multiset of text lengths (Pareto
    * quantiles, minimum `lenScale` tokens), the number of pages per host
    * and the number of near-duplicates, each copying an original from a
    * fixed stratum of the length order. The seed decides the words, which
    * page gets which length and host, and the pairing within each stratum.
    * So different seeds measure the same work, not a different sample of
    * a heavy-tailed distribution.
    */
  def corpus(seed: Long, budget: Int, numHosts: Int, lenScale: Int): Corpus = {
    val rng = new SplittableRandom(seed)
    val originalBudget = budget * (1 - NearDupFraction)
    var numOriginals = 1
    while (originalLengths(numOriginals, lenScale).sum < originalBudget) numOriginals += 1
    val numDups = math.round(numOriginals * NearDupFraction / (1 - NearDupFraction)).toInt
    val n = numOriginals + numDups

    // slot k < numOriginals is original k (lengths ascending); slot
    // numOriginals + d is near-duplicate d, copying an original from the
    // d-th of numDups equal strata of the length order
    val lengths = originalLengths(numOriginals, lenScale)
    val dupSource = Array.tabulate(numDups) { d =>
      math.min(numOriginals - 1, ((d + rng.nextDouble()) * numOriginals / numDups).toInt)
    }
    val order = Array.range(0, n)
    shuffle(order, rng)
    // an original comes before its near-duplicates
    val pos = Array.ofDim[Int](n)
    order.indices.foreach(k => pos(order(k)) = k)
    dupSource.indices.foreach { d =>
      val (ps, pd) = (pos(dupSource(d)), pos(numOriginals + d))
      if (ps > pd) {
        order(ps) = numOriginals + d; order(pd) = dupSource(d)
        pos(numOriginals + d) = ps; pos(dupSource(d)) = pd
      }
    }
    val hosts = hostSlots(n, numHosts)
    shuffle(hosts, rng)

    val styles = scala.collection.mutable.HashMap.empty[Int, HostStyle]
    val tokensOf = mutable.HashMap.empty[Int, Array[String]]
    val dupOf = Map.newBuilder[Int, Int]
    val pages = mutable.ArrayBuffer.empty[Page]
    order.indices.foreach { k =>
      val slot = order(k)
      val host = hosts(k)
      val style = styles.getOrElseUpdate(host, hostStyle(seed, host))
      val lang = if (rng.nextInt(100) < 85) style.lang else pickLang(rng)
      val tokens: Array[String] =
        if (slot >= numOriginals) {
          val src = dupSource(slot - numOriginals)
          dupOf += k -> pos(src)
          tokensOf(src).map(t => if (rng.nextDouble() < NearDupEditRate) word(lang, rng) else t)
        } else {
          val t = Array.fill(lengths(slot))(word(lang, rng))
          tokensOf(slot) = t
          t
        }
      val sb = new java.lang.StringBuilder(tokens.length * 6)
      var j = 0
      while (j < tokens.length) {
        if (j > 0) sb.append(if (j % 64 == 0) '\n' else ' ')
        sb.append(tokens(j))
        j += 1
      }
      val text = sb.toString
      val key = rng.nextLong()
      val title = tokens.take(6).mkString(" ")
      val ts = java.sql.Timestamp.from(
        Epoch.plusSeconds(k.toLong * 37L).plusNanos((rng.nextInt(1000000) * 1000L)))
      pages += Page(url(host, key, k), ts, html(style, title, text), text, lang)
    }
    Corpus(pages.toIndexedSeq, dupOf.result())
  }

  def rawBytes(p: Page): Long =
    p.url.length.toLong + 8L + p.html.length + p.text.getBytes(UTF_8).length + p.lang.length
}
