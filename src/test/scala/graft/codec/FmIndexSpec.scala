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

  test("serialized index bytes are pinned on a PagesGen text") {
    // four pages' html (11,671 bytes); the digest pins build's BWT, C table,
    // Occ checkpoints and SA samples together
    val t = (0L until 4L)
      .map(id => graft.spark.PagesGen.page(42L, id, 100, hostSkew = false).html).reduce(_ ++ _)
    val fm = FmIndex.build(t)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(fm.serialize(5)).map("%02x".format(_)).mkString
    assert(digest == "a13d626c473ce554e63e349b69fd06682d65cd0f731412d2c6f3f3558e1475aa")
    assert(fm.bwt == BwtCodec.encode(t))
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
