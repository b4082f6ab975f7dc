package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

class BwtSpec extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  test("suffix array matches naive sort (seeded random + edges)") {
    val rnd = new scala.util.Random(42)
    val cases = Seq(
      Array.emptyByteArray,
      bytes("a"),
      bytes("ba"),
      bytes("zab"),
      bytes("aaaa"),
      bytes("abracadabra"),
      bytes("mississippi"),
      Array.fill(300)(0.toByte),
      Array.tabulate(256)(_.toByte)
    ) ++ (1 to 40).map { i =>
      val n = rnd.nextInt(200) + 1
      val sigma = Seq(2, 4, 16, 256)(rnd.nextInt(4))
      Array.fill(n)(rnd.nextInt(sigma).toByte)
    } ++ ShapedInputs.all(20260817L, perShape = 5, maxLen = 600)
    cases.foreach { t =>
      val naive = SuffixArrays.buildNaive(t).toSeq
      assert(SuffixArrays.build(t).toSeq == naive,
        s"SA mismatch for ${t.toSeq.take(30)} (len ${t.length})")
      assert(SuffixArrays.buildGeneric(t).toSeq == naive,
        s"generic SA mismatch (len ${t.length})")
    }
    // longer inputs of the same shapes, past the naive sort's reach: the
    // byte-level path against the generic int-level one
    ShapedInputs.all(20260818L, perShape = 2, maxLen = 20000).foreach { t =>
      assert(SuffixArrays.build(t).toSeq == SuffixArrays.buildGeneric(t).toSeq,
        s"byte vs generic SA mismatch (len ${t.length})")
    }
  }

  test("BWT roundtrip on edges and seeded random inputs") {
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      Array.emptyByteArray,
      bytes("a"),
      bytes("ba"), // sentinel lands LAST in the BWT stream
      bytes("zab"),
      bytes("aaaabbbbcccc"),
      bytes("édité-à-ökonomie"), // multi-byte UTF-8 split across byte symbols
      Array.tabulate(256)(_.toByte)
    ) ++ (1 to 60).map { _ =>
      Array.fill(rnd.nextInt(500) + 1)(rnd.nextInt(256).toByte)
    }
    cases.foreach { t =>
      val rt = BwtCodec.decode(BwtCodec.encode(t))
      assert(rt.sameElements(t), s"roundtrip failed for len ${t.length}")
    }
  }

  test("BWT of empty input is empty (reference BWT.hs:58)") {
    val b = BwtCodec.encode(Array.emptyByteArray)
    assert(b.data.isEmpty && b.sentinelPos == -1 && b.conceptualLength == 0)
  }

  test("BWT output is a permutation of input plus one sentinel") {
    val rnd = new scala.util.Random(11)
    (1 to 30).foreach { _ =>
      val t = Array.fill(rnd.nextInt(300) + 1)(rnd.nextInt(8).toByte)
      val b = BwtCodec.encode(t)
      assert(b.conceptualLength == t.length + 1)
      assert(b.sentinelPos >= 0 && b.sentinelPos <= t.length)
      assert(b.data.sorted.toSeq == t.sorted.toSeq)
    }
  }

  test("golden: BWT of abracadabra is ard$rcaaaabb (FMIndex/Internal.hs:93)") {
    val b = BwtCodec.encode(bytes("abracadabra"))
    assert(new String(b.data, UTF_8) == "ardrcaaaabb")
    assert(b.sentinelPos == 3)
  }
}
