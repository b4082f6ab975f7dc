package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

class FmIndexSpec extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  private def naiveCount(text: String, pat: String): Int = {
    if (pat.isEmpty) return 0
    var c = 0
    var i = text.indexOf(pat)
    while (i >= 0) { c += 1; i = text.indexOf(pat, i + 1) } // overlapping
    c
  }

  test("golden: abracadabra C-table (FMIndex/Internal.hs:95-101)") {
    val fm = FmIndex.build(bytes("abracadabra"))
    assert(fm.cOf('a'.toByte) == 1)
    assert(fm.cOf('b'.toByte) == 6)
    assert(fm.cOf('c'.toByte) == 8)
    assert(fm.cOf('d'.toByte) == 9)
    assert(fm.cOf('r'.toByte) == 10)
  }

  test("golden: abracadabra Occ values (FMIndex/Internal.hs:103-115)") {
    val fm = FmIndex.build(bytes("abracadabra"))
    val dense = fm.alphabet.map(_.toChar).zipWithIndex.toMap
    // Occ(a,k) for k=1..12 from the worked table
    val occA = Seq(1, 1, 1, 1, 1, 1, 2, 3, 4, 5, 5, 5)
    occA.zipWithIndex.foreach { case (v, k0) =>
      assert(fm.occ(dense('a'), k0 + 1) == v, s"Occ(a,${k0 + 1})")
    }
    val occB = Seq(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 2)
    occB.zipWithIndex.foreach { case (v, k0) =>
      assert(fm.occ(dense('b'), k0 + 1) == v, s"Occ(b,${k0 + 1})")
    }
    val occR = Seq(0, 1, 1, 1, 2, 2, 2, 2, 2, 2, 2, 2)
    occR.zipWithIndex.foreach { case (v, k0) =>
      assert(fm.occ(dense('r'), k0 + 1) == v, s"Occ(r,${k0 + 1})")
    }
  }

  test("golden: count/locate on abracadabra (FIXTURES.md §2)") {
    val fm = FmIndex.build(bytes("abracadabra"))
    assert(fm.count(bytes("abra")) == Some(2))
    assert(fm.count(bytes("bra")) == Some(2))
    assert(fm.count(bytes("abracadabra")) == Some(1))
    assert(fm.count(bytes("a")) == Some(5))
    assert(fm.count(bytes("xyz")) == None)
    assert(fm.count(Array.emptyByteArray) == None) // Internal.hs:348
    // 1-based, row-ordered (unsorted) positions: suffix "abra" (pos 8)
    // sorts before "abracadabra" (pos 1)
    assert(fm.locate(bytes("abra")).toSeq == Seq(8, 1))
    assert(fm.locate(bytes("xyz")).isEmpty)
  }

  test("compat quirk: unknown pattern chars are skipped (Internal.hs:390-391,420-423)") {
    val fm = FmIndex.build(bytes("abracadabra"))
    // 'z' not in the text: reference leaves the stale range
    assert(fm.count(bytes("za"), compat = true) == Some(5)) // == count("a")
    assert(fm.count(bytes("az"), compat = true) == Some(5)) // skipped first too
    assert(fm.count(bytes("za")) == None) // fixed default
    assert(fm.count(bytes("z"), compat = true) == None) // nothing ever matched
  }

  test("count equals naive overlapping substring count (seeded random)") {
    val rnd = new scala.util.Random(23)
    (1 to 25).foreach { _ =>
      val n = rnd.nextInt(300) + 5
      val text = Array.fill(n)(('a' + rnd.nextInt(4)).toChar).mkString
      val fm = FmIndex.build(bytes(text))
      (1 to 12).foreach { _ =>
        val plen = rnd.nextInt(5) + 1
        val pat = Array.fill(plen)(('a' + rnd.nextInt(4)).toChar).mkString
        val expected = naiveCount(text, pat)
        val got = fm.count(bytes(pat)).getOrElse(0)
        assert(got == expected, s"count($pat) in len-$n text: got $got want $expected")
      }
    }
  }

  test("locate returns exactly the 1-based occurrence positions") {
    val rnd = new scala.util.Random(29)
    (1 to 20).foreach { _ =>
      val n = rnd.nextInt(200) + 5
      val text = Array.fill(n)(('a' + rnd.nextInt(3)).toChar).mkString
      val fm = FmIndex.build(bytes(text))
      val pat = Array.fill(rnd.nextInt(3) + 1)(('a' + rnd.nextInt(3)).toChar).mkString
      val expected = (1 to n).filter(p => text.startsWith(pat, p - 1)).toSet
      assert(fm.locate(bytes(pat)).toSet == expected, s"locate($pat)")
    }
  }

  test("occ checkpoint block boundaries (length multiple of block size)") {
    // text of length 255 -> conceptual 256 = exact block multiple at blockBits=8
    val text = Array.fill(255)('q'.toByte)
    val fm = FmIndex.build(text)
    assert(fm.count(bytes("qq")) == Some(254))
    val text2 = Array.fill(511)('q'.toByte)
    val fm2 = FmIndex.build(text2, blockBits = 4)
    assert(fm2.count(bytes("qqq")) == Some(509))
  }

  test("edge patterns: longer than text, equal to text, unicode bytes") {
    val fm = FmIndex.build(bytes("abc"))
    assert(fm.count(bytes("abcd")) == None)
    assert(fm.count(bytes("abc")) == Some(1))
    assert(fm.locate(bytes("abc")).toSeq == Seq(1))
    val uni = "héllo wörld héllo"
    val fmU = FmIndex.build(bytes(uni))
    // patterns are byte strings; multibyte chars match at byte level
    assert(fmU.count(bytes("héllo")) == Some(2))
    assert(fmU.count(bytes("é")) == Some(2))
    assert(fmU.locate(bytes("wörld")).length == 1)
    // single-char text
    val fm1 = FmIndex.build(bytes("x"))
    assert(fm1.count(bytes("x")) == Some(1))
    assert(fm1.locate(bytes("x")).toSeq == Seq(1))
    assert(fm1.count(bytes("y")) == None)
  }

  test("sampled-SA serialization: locate identical to full SA, payload smaller") {
    val rnd = new scala.util.Random(47)
    (1 to 8).foreach { round =>
      val alpha = "abcdeé "
      val t = Array.fill(rnd.nextInt(800) + 20)(alpha(rnd.nextInt(alpha.length)).toByte)
      val fm = FmIndex.build(t)
      val full = FmIndex.deserialize(fm.serialize(0))
      val patterns = Seq("a", "ab", "cde", "e ", "zzz", new String(t, 10, 5, java.nio.charset.StandardCharsets.ISO_8859_1))
      Seq(2, 5, 10).foreach { k =>
        val payload = fm.serialize(k)
        val sampled = FmIndex.deserialize(payload)
        assert(sampled.sampleBits == k)
        patterns.foreach { p =>
          val pb = p.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          assert(sampled.count(pb) == full.count(pb), s"count k=$k p=$p")
          // locate: same positions, same row order
          assert(sampled.locate(pb).toSeq == full.locate(pb).toSeq, s"locate k=$k p=$p round=$round")
        }
        assert(payload.length < fm.serialize(0).length,
          s"sampled (k=$k) payload should be smaller than full-SA payload")
      }
    }
  }

  test("sampled-SA edge cases: empty-ish text, all-same bytes, k larger than text") {
    Seq("x", "aaaaaaaaaa", "ab" * 40).foreach { s =>
      val t = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val fm = FmIndex.build(t)
      val sampled = FmIndex.deserialize(fm.serialize(12)) // 2^12 > |t|: only sa=0 sampled
      Seq("a", "x", "ab", "aaa").foreach { p =>
        val pb = p.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        assert(sampled.count(pb) == fm.count(pb))
        assert(sampled.locate(pb).toSeq == fm.locate(pb).toSeq)
      }
    }
  }

  test("empty text: count and locate are None for every pattern, through serialization too") {
    val fm = FmIndex.build(Array.emptyByteArray)
    assert(fm.n == 0 && fm.alphabet.isEmpty)
    // the stored empty BWT is the reference's `BWT Empty`, unchanged
    assert(fm.bwt == BwtCodec.encode(Array.emptyByteArray) && fm.bwt.sentinelPos == -1)
    val patterns = Seq(bytes("a"), bytes("ab"), Array[Byte](0), Array.emptyByteArray)
    def noMatches(ix: FmIndex): Unit =
      for (p <- patterns; compat <- Seq(false, true)) {
        assert(ix.count(p, compat).isEmpty, s"count of ${p.toSeq} (compat=$compat)")
        assert(ix.locate(p, compat).isEmpty, s"locate of ${p.toSeq} (compat=$compat)")
      }
    noMatches(fm)
    Seq(0, 3).foreach { k =>
      val payload = fm.serialize(k)
      val back = FmIndex.deserialize(payload)
      assert(back.n == 0 && back.bwt == fm.bwt, s"k=$k")
      noMatches(back)
      if (k == 0) assert(back.serialize(0).sameElements(payload), "full-SA round trip is byte-stable")
    }
  }

  /** Four pages' html (11,671 bytes). */
  private lazy val pagesText: Array[Byte] = (0L until 4L)
    .map(id => graft.spark.PagesGen.page(42L, id, 100, hostSkew = false).html).reduce(_ ++ _)

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** Patterns over `t`: cuts of it at a few places and lengths, bytes that
    * do and do not occur, and a pattern longer than the text.
    */
  private def patternsOf(t: Array[Byte]): Seq[Array[Byte]] = {
    val cuts = for {
      len <- Seq(1, 2, 3, 7, 20) if len <= t.length
      at <- Seq(0, t.length / 3, t.length - len)
    } yield java.util.Arrays.copyOfRange(t, at, at + len)
    cuts ++ Seq(Array[Byte](0), Array[Byte](-1), bytes("e"), bytes("the"), bytes("é"), t :+ 'x'.toByte)
  }

  /** count and locate (row order included) of `got` equal the full-SA `want`'s. */
  private def assertSameSearch(got: FmIndex, want: FmIndex, t: Array[Byte], what: String): Unit =
    for (p <- patternsOf(t); compat <- Seq(false, true)) {
      assert(got.count(p, compat) == want.count(p, compat), s"$what: count of ${p.take(20).toSeq}")
      assert(got.locate(p, compat).toSeq == want.locate(p, compat).toSeq,
        s"$what: locate of ${p.take(20).toSeq} (compat=$compat)")
    }

  /** A v3 payload's fields: n, k, the (row, sa >> k) samples and the body. */
  private def v3Fields(payload: Array[Byte]): (Int, Int, Seq[(Int, Int)], Array[Byte]) = {
    val rd = new Bytes.Reader(payload)
    assert(rd.readByte() == 3, "format v3")
    val n = rd.readVarInt()
    val k = rd.readByte()
    var row = 0
    val samples = Seq.fill(rd.readVarInt()) { row += rd.readVarInt(); (row, rd.readVarInt()) }
    (n, k, samples, java.util.Arrays.copyOfRange(payload, rd.pos, payload.length))
  }

  test("serialized index bytes are pinned on a PagesGen text") {
    // the v3 digest pins build's BWT, its body and the SA samples together;
    // the parent format's digest is pinned on its committed payload below
    val fm = FmIndex.build(pagesText)
    assert(pagesText.length == 11671)
    assert(sha256(fm.serialize(5)) == "036bab3465bac9781f5b55428c45728671b10d447fa32a49fa466644679e99fb")
    assert(fm.bwt == BwtCodec.encode(pagesText))
  }

  test("a v2 payload written before format v3 still deserializes and searches") {
    // fm_index_v2_pagesgen.bin is FmIndex.build(pagesText).serialize(5) as
    // written by the v2 writer, before v3 replaced it
    val v2 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(getClass.getResource("/fm_index_v2_pagesgen.bin").toURI))
    assert(v2(0) == 2)
    assert(sha256(v2) == "a13d626c473ce554e63e349b69fd06682d65cd0f731412d2c6f3f3558e1475aa")
    val back = FmIndex.deserialize(v2)
    assert(back.sampleBits == 5 && back.bwt == BwtCodec.encode(pagesText))
    assertSameSearch(back, FmIndex.build(pagesText), pagesText, "v2")
    assert(back.count(bytes("<html>")) == Some(4))
  }

  test("v3 round trip: count and locate equal the full-SA index, the body is the text column's") {
    val rnd = new scala.util.Random(53)
    val edges = Seq(
      Array.emptyByteArray, bytes("x"), Array.fill(1000)('a'.toByte), Array.fill(300)(0.toByte),
      Array.fill(300)(-1.toByte), Array[Byte](0, -1, 0, -1, 1, 0), bytes("naïve 中文 тест " * 20),
      Array.fill(400)(rnd.nextInt(256).toByte), // high entropy: nothing compresses it
      bytes(ShapedInputs.MtfRleText), bytes("abracadabra"), pagesText)
    val random = ShapedInputs.all(seed = 53, perShape = 2, maxLen = 900)
    val tags = scala.collection.mutable.Set.empty[Int]
    (edges ++ random).zipWithIndex.foreach { case (t, i) =>
      val fm = FmIndex.build(t)
      val text = Pipelines.textEncode(t)
      tags += text(0)
      Seq(1, 5, 12).foreach { k =>
        val payload = fm.serialize(k)
        val (n, kk, samples, body) = v3Fields(payload)
        assert(n == t.length && kk == k, s"input $i header")
        // the samples are the SA values divisible by 2^k, rows ascending
        assert(samples == (1 to n).filter(r => fm.sa(r) % (1 << k) == 0).map(r => (r, fm.sa(r) >> k)),
          s"input $i k=$k samples")
        if (Set(0, 1, 3)(text(0))) assert(body.sameElements(text), s"input $i: body is textEncode's")
        else assert(Set(0, 1, 2, 3)(body(0)), s"input $i: body tag")
        val back = FmIndex.deserialize(payload)
        assert(back.sampleBits == k && back.bwt == fm.bwt, s"input $i k=$k")
        assertSameSearch(back, fm, t, s"input $i k=$k")
      }
    }
    assert(tags == Set(0, 1, 2, 3), s"the inputs cover every textEncode tag: $tags")
  }

  test("v3 round trip of a text above MaxBwtDocBytes") {
    // textEncode takes its BWT-free path above the cap; the index's body is
    // still a BWT body, bounded by the header's n
    val rnd = new scala.util.Random(59)
    val vocab = Array("alpha ", "beta ", "gamma ", "delta ", "omega ", "server ", "cloud\n", "ü ")
    val buf = new java.io.ByteArrayOutputStream(ColumnCodec.MaxBwtDocBytes + 16)
    while (buf.size < ColumnCodec.MaxBwtDocBytes + 1) buf.write(bytes(vocab(rnd.nextInt(vocab.length))))
    val t = java.util.Arrays.copyOf(buf.toByteArray, ColumnCodec.MaxBwtDocBytes + 1)
    assert(Pipelines.textEncode(t)(0) == 4)
    val fm = FmIndex.build(t)
    val payload = fm.serialize(5)
    assert(payload.length < t.length / 2)
    val back = FmIndex.deserialize(payload)
    assert(back.n == t.length && back.bwt == fm.bwt)
    Seq("beta gamma", "cloud\nalpha", "ü ü", "zz", "omega server cloud").foreach { p =>
      assert(back.count(bytes(p)) == fm.count(bytes(p)), p)
      assert(back.locate(bytes(p)).toSeq == fm.locate(bytes(p)).toSeq, p)
    }
  }

  test("FM inverse recovers the text (seqFromFMIndex + BWT decode path)") {
    val rnd = new scala.util.Random(31)
    (1 to 10).foreach { _ =>
      val t = Array.fill(rnd.nextInt(300) + 1)(rnd.nextInt(256).toByte)
      val fm = FmIndex.build(t)
      // the index stores the BWT (the reference's seqFromFMIndex recovers it
      // from the Occ table, Internal.hs:324-337); decoding it yields the text
      assert(BwtCodec.decode(fm.bwt).sameElements(t))
    }
  }
}
