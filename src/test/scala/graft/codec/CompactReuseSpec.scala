package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Pins the two primitives table compaction's body-reuse path rests on:
  * [[Pipelines.rawLenOf]] recovers a value's decoded length from every
  * textEncode tag without decoding it, and [[ColumnCodec.extractBwtBodies]]
  * slices a container back into exactly the per-value bodies that were
  * stored — so re-containerizing them is byte-identical to a fresh encode.
  */
class CompactReuseSpec extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  test("rawLenOf matches decoded length for textEncode on a varied corpus") {
    val rnd = new scala.util.Random(4711)
    val samples: Seq[Array[Byte]] =
      Seq(
        Array.emptyByteArray,
        bytes("a"),
        bytes("abracadabra" * 40),
        bytes("<html><body>" + "the quick brown fox " * 100 + "</body></html>"),
        Array.fill(2000)(rnd.nextInt(256).toByte), // high-entropy -> raw tag
        Array.fill(3000)('x'.toByte), // degenerate run
        ("数据压缩测试" * 50).getBytes(UTF_8) // multibyte
      ) ++ (1 to 30).map { i =>
        val n = rnd.nextInt(4000)
        val alpha = 1 + rnd.nextInt(40)
        Array.fill(n)((rnd.nextInt(alpha) + 'a').toByte)
      }
    samples.foreach { v =>
      val enc = Pipelines.textEncode(v)
      assert(Pipelines.rawLenOf(enc) == v.length.toLong,
        s"tag ${enc.headOption.getOrElse(-1)} len ${v.length}")
      assert(Pipelines.textDecode(enc).sameElements(v))
      val fast = Pipelines.textEncodeFast(v)
      assert(Pipelines.rawLenOf(fast) == v.length.toLong,
        s"fast tag ${fast.headOption.getOrElse(-1)} len ${v.length}")
    }
  }

  test("rawLenOf covers every tag explicitly (1 and 3 constructed)") {
    val v = bytes("mississippi river runs " * 30)
    // tag 1: BWT+RLE serialized stream (textEncode only picks it when it
    // wins; construct it directly — textDecode accepts any tag)
    val bwt = BwtCodec.encode(v)
    val tag1 = {
      val body = RleCodec.serialize(RleCodec.encode(bwt))
      (1.toByte) +: body
    }
    assert(Pipelines.textDecode(tag1).sameElements(v))
    assert(Pipelines.rawLenOf(tag1) == v.length.toLong)
    // tag 3: huffman over the fused MTF+RLE stream
    val a = Pipelines.mtfRleEncodeFused(bwt)
    val tag3 = {
      val freq = Huffman.histogram(a)
      val lens = Huffman.codeLengths(freq)
      val hSize = Huffman.compressedSize(freq, lens, a.length)
      (3.toByte) +: Huffman.compressWithSized(a, lens, hSize.toInt)
    }
    assert(Pipelines.textDecode(tag3).sameElements(v))
    assert(Pipelines.rawLenOf(tag3) == v.length.toLong)
    // tag 0: the bare fused stream (textEncode usually huffman-wraps it
    // into tag 3 — construct the unwrapped form directly)
    val tag0 = (0.toByte) +: a
    assert(Pipelines.textDecode(tag0).sameElements(v))
    assert(Pipelines.rawLenOf(tag0) == v.length.toLong)
    // tags 2/4 arise naturally; pin which input takes which
    val rnd = new scala.util.Random(7)
    val noise = Array.fill(1500)(rnd.nextInt(256).toByte)
    assert(Pipelines.textEncode(noise).head == 2)
    assert(Pipelines.textEncodeFast(v).head == 4)
  }

  test("extractBwtBodies returns the exact stored per-value bodies") {
    val values: Array[Array[Byte]] = Array(
      bytes("the quick brown fox " * 50),
      Array.emptyByteArray,
      bytes("abracadabra" * 30),
      ("页面内容" * 40).getBytes(UTF_8)
    )
    val payload = ColumnCodec.encodeBwtValues(values)
    val bodies = ColumnCodec.extractBwtBodies(payload)
      .getOrElse(fail("BwtBin container must extract"))
    assert(bodies.length == values.length)
    values.indices.foreach { i =>
      assert(bodies(i).sameElements(Pipelines.textEncode(values(i))), s"body $i")
      assert(Pipelines.rawLenOf(bodies(i)) == values(i).length.toLong)
    }
    // re-containerizing the extracted bodies is byte-identical
    val rebuilt = {
      val buf = new Bytes.Buf()
      buf.writeByte(ColumnCodec.BwtBin)
      buf.writeVarInt(bodies.length)
      bodies.foreach { b => buf.writeVarInt(b.length); buf.writeBytes(b) }
      buf.toArray
    }
    assert(rebuilt.sameElements(payload))
    // the container writer over bodies is extractBwtBodies' inverse, null
    // slots and speed-coded (tag 4) bodies included
    val withNulls: Array[Array[Byte]] =
      Array(bodies(0), null, bodies(2), null, Pipelines.textEncodeFast(values(3)))
    val written = ColumnCodec.encodeBwtBodies(withNulls)
    val back = ColumnCodec.extractBwtBodies(written).getOrElse(fail("must extract"))
    assert(back.length == withNulls.length)
    withNulls.indices.foreach { i =>
      assert(if (withNulls(i) == null) back(i) == null else back(i).sameElements(withNulls(i)), s"slot $i")
    }
    assert(ColumnCodec.decodeBinaryNullable(written).map(Option(_).map(_.toSeq)).toSeq ==
      Seq(Some(values(0).toSeq), None, Some(values(2).toSeq), None, Some(values(3).toSeq)))
  }

  test("extractBwtBodies throws on corrupt containers rather than mis-slicing") {
    val good = ColumnCodec.encodeBwtValues(Array(bytes("abc" * 200), bytes("def" * 100)))
    // truncated container: a body length now points past the end
    intercept[IllegalArgumentException] {
      ColumnCodec.extractBwtBodies(java.util.Arrays.copyOf(good, good.length / 2))
    }
    // corrupt count varint
    val badCount = good.clone()
    badCount(1) = 0xFF.toByte; badCount(2) = 0xFF.toByte
    intercept[IllegalArgumentException](ColumnCodec.extractBwtBodies(badCount))
  }

  test("extractBwtBodies unwraps NullWrap (and declines non-BwtBin codecs)") {
    val long = bytes("a long enough page body to make the bwt pipeline win " * 40)
    val values: Array[Array[Byte]] = Array(long, null, bytes("another body " * 60), null)
    val payload = ColumnCodec.encodeBinaryNullable(values)
    assert(ColumnCodec.codecName(payload).contains("nullable"))
    ColumnCodec.extractBwtBodies(payload) match {
      case Some(bodies) =>
        assert(bodies(1) == null && bodies(3) == null)
        assert(bodies(0).sameElements(Pipelines.textEncode(long)))
      case None =>
        // chunk-level policy picked a non-per-value codec for this data —
        // then the compact fallback (decode + re-encode) applies instead;
        // make sure the decline is honest, not a parse failure
        assert(!ColumnCodec.codecName(payload).contains("bwt"))
    }
    // a codec that is structurally not per-value must return None
    val dict = ColumnCodec.encodeDict(Array(bytes("en"), bytes("de"), bytes("en")))
    assert(ColumnCodec.extractBwtBodies(dict).isEmpty)
  }
}
