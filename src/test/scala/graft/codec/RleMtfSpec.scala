package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

class RleMtfSpec extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  // ------------------------------------------------------------------- RLE

  test("golden: reference RLE stream of BWT(s1) equals rle1 (RLE.hs:313-318)") {
    val got = ReferenceRle.tokens(BwtCodec.encode(bytes(FixtureData.s1)))
    assert(got == FixtureData.rle1)
  }

  test("golden: reference RLE stream of BWT(s2) equals rle2 (RLE.hs:317-319)") {
    val got = ReferenceRle.tokens(BwtCodec.encode(bytes(FixtureData.s2)))
    assert(got == FixtureData.rle2)
  }

  test("reference quirk: sentinel-final BWT stream duplicates the (1,$) pair") {
    // BWT("ba") = [a, b, $]; the reference's iRLE Empty case re-pushes the
    // stale (count, Nothing) after the sentinel branch already emitted it
    // (RLE/Internal.hs:125-130) — its own roundtrip breaks on such inputs.
    // The engine format has no such duplication (divergence documented).
    val toks = ReferenceRle.tokens(BwtCodec.encode(bytes("ba")))
    assert(toks == Vector(Some("1"), Some("a"), Some("1"), Some("b"), Some("1"), None, Some("1"), None))
  }

  test("engine RLE roundtrip incl. serialization") {
    val rnd = new scala.util.Random(3)
    val cases = Seq(bytes("ba"), bytes("a"), bytes("aaaabbbbcccc"), Array.emptyByteArray) ++
      (1 to 50).map(_ => Array.fill(rnd.nextInt(400) + 1)(rnd.nextInt(4).toByte))
    cases.foreach { t =>
      val b = BwtCodec.encode(t)
      val chunk = RleCodec.encode(b)
      assert(RleCodec.decode(chunk) == b, s"RLE chunk roundtrip, len ${t.length}")
      val ser = RleCodec.serialize(chunk)
      assert(RleCodec.decode(RleCodec.deserialize(ser)) == b, "serialized roundtrip")
      assert(BwtCodec.decode(RleCodec.decode(chunk)).sameElements(t))
    }
  }

  test("engine RLE serialized size <= reference ASCII costing on text-like input") {
    val rnd = new scala.util.Random(5)
    (1 to 20).foreach { _ =>
      // runs-heavy input, the RLE sweet spot
      val sb = new StringBuilder
      while (sb.length < 300) sb.append(("abcd" (rnd.nextInt(4))).toString * (rnd.nextInt(9) + 1))
      val t = bytes(sb.toString)
      val b = BwtCodec.encode(t)
      assert(RleCodec.serialize(RleCodec.encode(b)).length <= ReferenceRle.cost(b))
    }
  }

  // ------------------------------------------------------------------- MTF

  test("golden: MTF of BWT(aaabbbccc) (MTF.hs:287-299)") {
    val b = BwtCodec.encode(bytes("aaabbbccc"))
    val m = MtfCodec.encode(b)
    assert(m.indices.toSeq == Seq(3, 1, 2, 0, 0, 3, 0, 3, 0, 1))
    // stored FINAL recency list [Just b, Just c, Just a, Nothing]
    val fin = MtfCodec.finalList(b).map(_.map(_.toChar))
    assert(fin == Vector(Some('b'), Some('c'), Some('a'), None))
    assert(MtfCodec.decode(m) == b)
  }

  test("MTF roundtrip incl. serialization; indices bounded by sigma") {
    val rnd = new scala.util.Random(9)
    val cases = Seq(Array.emptyByteArray, bytes("a"), bytes("ba"), Array.tabulate(256)(_.toByte)) ++
      (1 to 50).map(_ => Array.fill(rnd.nextInt(400) + 1)(rnd.nextInt(256).toByte))
    cases.foreach { t =>
      val b = BwtCodec.encode(t)
      val m = MtfCodec.encode(b)
      assert(m.indices.forall(i => i >= 0 && i < m.sigma))
      assert(MtfCodec.decode(m) == b)
      assert(MtfCodec.decode(MtfCodec.deserialize(MtfCodec.serialize(m))) == b)
    }
  }

  // ------------------------------------------------------------- pipelines

  test("composed pipelines roundtrip bit-identical (QuickCheck-style law)") {
    val rnd = new scala.util.Random(13)
    val cases = Seq(
      Array.emptyByteArray,
      bytes("a"),
      bytes("ba"),
      bytes(FixtureData.s2),
      bytes("naïve — déjà vu — 中文測試 — русский"),
      Array.fill(1000)('x'.toByte)
    ) ++ (1 to 40).map { _ =>
      val mode = rnd.nextInt(3)
      val n = rnd.nextInt(800) + 1
      mode match {
        case 0 => Array.fill(n)(rnd.nextInt(256).toByte) // high entropy
        case 1 => Array.fill(n)(("etaoin shrdlu" (rnd.nextInt(13))).toByte) // text-ish
        case _ => Array.fill(n)(rnd.nextInt(3).toByte) // low alphabet
      }
    }
    cases.foreach { t =>
      assert(Pipelines.bwtRleDecode(Pipelines.bwtRleEncode(t)).sameElements(t), "bwtRle")
      assert(Pipelines.bwtMtfDecode(Pipelines.bwtMtfEncode(t)).sameElements(t), "bwtMtf")
      assert(Pipelines.bwtMtfRleDecode(Pipelines.bwtMtfRleEncode(t)).sameElements(t), "bwtMtfRle")
      assert(Pipelines.rleDirectDecode(Pipelines.rleDirectEncode(t)).sameElements(t), "rleDirect")
    }
  }

  test("size gate: engine bwtMtfRle <= reference RLE costing on realistic docs") {
    val rnd = new scala.util.Random(17)
    val words = "the quick brown fox jumps over a lazy dog and runs far away home".split(" ")
    (1 to 15).foreach { _ =>
      val sb = new StringBuilder
      (1 to rnd.nextInt(150) + 20).foreach(_ => sb.append(words(rnd.nextInt(words.length))).append(' '))
      val t = bytes(sb.toString)
      val engine = Pipelines.textEncode(t).length
      val (refRle, refMtf) = Pipelines.referenceCosts(t)
      assert(engine <= refRle, s"engine $engine vs refRle $refRle")
      assert(engine <= refMtf, s"engine $engine vs refMtf $refMtf")
      assert(Pipelines.textDecode(Pipelines.textEncode(t)).sameElements(t))
    }
  }

  test("size gate holds on adversarial shapes too (best-of incl. raw floor)") {
    val rnd = new scala.util.Random(19)
    val cases = Seq(
      Array.fill(512)(rnd.nextInt(256).toByte), // high entropy
      Array.fill(1024)('x'.toByte), // one giant run
      Array.tabulate(600)(i => (i % 2 * 255).toByte) // alternating, RLE-hostile
    ) ++ (1 to 10).map(_ => Array.fill(rnd.nextInt(2000) + 8)(rnd.nextInt(256).toByte))
    cases.foreach { t =>
      val engine = Pipelines.textEncode(t).length
      val (refRle, refMtf) = Pipelines.referenceCosts(t)
      assert(engine <= math.min(refRle, refMtf), s"engine $engine refRle $refRle refMtf $refMtf")
      assert(Pipelines.textDecode(Pipelines.textEncode(t)).sameElements(t))
    }
  }

  // -------------------------------------------- reference-stream interop

  test("interop: reference RLE goldens rle1/rle2 decode back to s1/s2") {
    Seq(FixtureData.s1 -> FixtureData.rle1, FixtureData.s2 -> FixtureData.rle2)
      .foreach { case (s, toks) =>
        val bwt = ReferenceRle.streamToBwt(ReferenceRle.parse(toks))
        assert(BwtCodec.decode(bwt).sameElements(bytes(s)))
      }
  }

  test("interop quirk: seqFromRLE ignores the count of a sentinel pair (RLE/Internal.hs:168-171)") {
    val got = ReferenceRle.parse(Vector(Some("42"), None, Some("2"), Some("a")))
    assert(got == Vector(None, Some('a'.toInt), Some('a'.toInt)))
  }

  test("interop quirk: seqFromRLE drops a trailing odd token (RLE/Internal.hs:187)") {
    val got = ReferenceRle.parse(Vector(Some("2"), Some("b"), Some("9")))
    assert(got == Vector(Some('b'.toInt), Some('b'.toInt)))
    assert(ReferenceRle.parse(Vector(Some("7"))) == Vector.empty)
    assert(ReferenceRle.parse(Vector.empty) == Vector.empty)
  }

  test("interop: tokens -> parse -> streamToBwt roundtrips random BWTs") {
    val rnd = new scala.util.Random(23)
    (1 to 20).foreach { _ =>
      val t = Array.fill(rnd.nextInt(400) + 2)(('a' + rnd.nextInt(5)).toByte)
      val bwt = BwtCodec.encode(t)
      if (bwt.data.length > 0 && bwt.sentinelPos < bwt.conceptualLength - 1) {
        // (sentinel-final streams are the reference's own broken case)
        val rt = ReferenceRle.streamToBwt(ReferenceRle.parse(ReferenceRle.tokens(bwt)))
        assert(rt.data.sameElements(bwt.data) && rt.sentinelPos == bwt.sentinelPos)
        assert(BwtCodec.decode(rt).sameElements(t))
      }
    }
  }

  test("interop: reference MTF stored form (indices + final list) decodes back") {
    val rnd = new scala.util.Random(29)
    val cases = Seq("banana", "aaabbbccc", "mississippi river runs") ++
      (1 to 15).map(_ => new String(Array.fill(rnd.nextInt(300) + 1)(('a' + rnd.nextInt(6)).toChar)))
    cases.foreach { s =>
      val bwt = BwtCodec.encode(bytes(s))
      val m = MtfCodec.encode(bwt)
      val stored = MtfCodec.finalList(bwt) // what the reference persists
      val stream = ReferenceMtf.parse(m.indices.toSeq, stored)
      val rt = ReferenceRle.streamToBwt(stream)
      assert(BwtCodec.decode(rt).sameElements(bytes(s)), s"s=$s")
    }
  }

  test("interop quirk: seqFromMTF of empty indices or empty list is empty (MTF/Internal.hs:203-210)") {
    assert(ReferenceMtf.parse(Nil, Seq(Some(97))) == Vector.empty)
    assert(ReferenceMtf.parse(Seq(0), Nil) == Vector.empty)
  }

  // --------------------------------------------- fused textEncode kernels

  private def fusedCases: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(101)
    Seq(
      Array.emptyByteArray,
      bytes("a"),
      bytes("ba"),
      bytes("aaaaaaaa"),
      bytes("abababab"),
      bytes("mississippi"),
      bytes("héllo wörld — ünïcode ∑ text"),
      Array.fill(300)(7.toByte),
      Array.tabulate(256)(_.toByte)
    ) ++
      (1 to 60).map(_ => Array.fill(rnd.nextInt(600) + 1)(rnd.nextInt(5).toByte)) ++
      (1 to 20).map(_ => Array.fill(rnd.nextInt(600) + 1)(rnd.nextInt(256).toByte)) ++
      (1 to 10).map(i => bytes(graft.spark.PagesGen.page(9L, i.toLong, 50, hostSkew = false).text)) ++
      ShapedInputs.all(20260817L, perShape = 3, maxLen = 20000)
  }

  test("mtfRleEncodeFused is byte-identical to the unfused MTF->RLE serialization") {
    fusedCases.foreach { t =>
      val fused = Pipelines.mtfRleEncodeFused(BwtCodec.encode(t))
      val unfused = Pipelines.bwtMtfRleEncode(t)
      assert(fused.sameElements(unfused), s"len=${t.length}")
    }
  }

  test("mtfRleDecodeFusedToBwt matches the unfused parse + MTF decode") {
    // model = parse the (runLen, index) varint stream into indices, then
    // MtfCodec.decode — the pre-fusion decode path
    def model(payload: Array[Byte]): Bwt = {
      val rd = new Bytes.Reader(payload)
      val totalLen = rd.readVarInt()
      val alphaLen = rd.readVarInt()
      val alphabet = rd.readBytes(alphaLen)
      val indices = new Array[Int](totalLen)
      var w = 0
      while (w < totalLen) {
        val run = rd.readVarInt()
        val v = rd.readVarInt()
        var c = 0
        while (c < run) { indices(w) = v; w += 1; c += 1 }
      }
      MtfCodec.decode(MtfChunk(indices, alphabet))
    }
    fusedCases.foreach { t =>
      val payload = Pipelines.bwtMtfRleEncode(t)
      val fused = Pipelines.mtfRleDecodeFusedToBwt(payload)
      assert(fused == model(payload), s"len=${t.length}")
      assert(Pipelines.bwtMtfRleDecode(payload).sameElements(t), s"roundtrip len=${t.length}")
    }
  }

  test("rleSerializedCost equals the materialized RLE candidate's exact size") {
    fusedCases.foreach { t =>
      val b = BwtCodec.encode(t)
      assert(Pipelines.rleSerializedCost(b) == RleCodec.serialize(RleCodec.encode(b)).length,
        s"len=${t.length}")
    }
  }
}
