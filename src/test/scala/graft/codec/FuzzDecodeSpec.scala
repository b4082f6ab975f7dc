package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Adversarial-payload fuzz for every deserializer that executors run on
  * stored bytes. At 10^12 documents a single corrupt chunk WILL occur;
  * the contract is: decode either succeeds or throws promptly — it never
  * hangs a task, never allocates unboundedly, never loops. (The round-3
  * WAV chunk-walk hang was exactly this bug class; this spec pins the
  * rest of the surface.)
  */
class FuzzDecodeSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(0xF022)

  /** Run f with a wall-clock bound; hangs fail the test rather than the
    * build's patience.
    */
  private def bounded[A](what: String)(f: => A): Unit = {
    import java.util.concurrent._
    val ex = Executors.newSingleThreadExecutor()
    try {
      val fut = ex.submit(new Callable[AnyRef] { def call(): AnyRef = { f; null } })
      try fut.get(10, TimeUnit.SECONDS)
      catch {
        case e: ExecutionException =>
          // a prompt decode exception is in-contract; an OOM/StackOverflow
          // is exactly the unbounded-allocation failure this spec hunts
          e.getCause match {
            case fatal: OutOfMemoryError => fail(s"$what OOMed on corrupt input: $fatal")
            case fatal: StackOverflowError => fail(s"$what blew the stack on corrupt input")
            case _ => ()
          }
        case _: TimeoutException => fail(s"$what hung on corrupt input")
      }
    } finally ex.shutdownNow()
  }

  private def corruptionsOf(payload: Array[Byte]): Seq[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    // truncations
    out += java.util.Arrays.copyOf(payload, payload.length / 2)
    out += java.util.Arrays.copyOf(payload, math.max(1, payload.length - 3))
    // single-byte flips spread over the payload
    (0 until 24).foreach { _ =>
      val c = payload.clone()
      val i = rnd.nextInt(c.length)
      c(i) = (c(i) ^ (1 << rnd.nextInt(8))).toByte
      out += c
    }
    // varint bombs: 0xFF runs at the front (max-length varints)
    val bomb = payload.clone()
    (0 until math.min(8, bomb.length)).foreach(i => bomb(i) = 0xFF.toByte)
    out += bomb
    // pure garbage of various sizes
    out += Array.fill(64)((rnd.nextInt(256) - 128).toByte)
    out += Array.fill(3)((rnd.nextInt(256) - 128).toByte)
    out.toSeq
  }

  test("textDecode: corrupt payloads throw or mis-decode promptly, never hang") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog " * 30,
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
      "naïve 中文 тест payload with multibyte content " * 10)
    texts.foreach { t =>
      val enc = Pipelines.textEncode(t.getBytes(UTF_8))
      // every tag variant: force the fast path too
      val encFast = Pipelines.textEncodeFast(t.getBytes(UTF_8))
      (corruptionsOf(enc) ++ corruptionsOf(encFast)).foreach { c =>
        bounded("textDecode")(Pipelines.textDecode(c))
      }
    }
  }

  test("text-slot html bodies: corrupt slots, varints and lengths fail promptly with named errors") {
    val text = "first paragraph of the page\nsecond paragraph, longer than eight".getBytes(UTF_8)
    val html = ("<html><p>first paragraph of the page</p><p>second paragraph, longer than eight" +
      "</p></html>").getBytes(UTF_8)
    val good = Pipelines.htmlEncode(html, text)
    assert(good.head == Pipelines.TextSlotTag)
    /** A tag-5 body over a hand-written slotted stream. */
    def body(rawLen: Long, slotted: Array[Byte]): Array[Byte] = {
      val buf = new Bytes.Buf()
      buf.writeByte(Pipelines.TextSlotTag)
      buf.writeVarLong(rawLen)
      buf.writeBytes(Pipelines.textEncode(slotted))
      buf.toArray
    }
    def named(what: String, b: Array[Byte], t: Array[Byte] = text): Unit =
      bounded(what) {
        val e = intercept[IllegalArgumentException](Pipelines.htmlDecode(b, t))
        assert(e.getMessage.contains("corrupt text-slot html body"), s"$what: ${e.getMessage}")
      }
    val lit = "<p>".getBytes(UTF_8)
    named("slot past the paragraph count", body(40, lit ++ Array[Byte](1, 3)))
    named("truncated slot varint", body(40, lit ++ Array[Byte](1, 0x80.toByte)))
    named("truncated slot varint at the end", body(40, lit ++ Array[Byte](1)))
    named("rawHtmlLen above the spliced length", body(lit.length + 28, lit ++ Array[Byte](1, 1)))
    named("rawHtmlLen below the spliced length", body(lit.length + 26, lit ++ Array[Byte](1, 1)))
    named("rawHtmlLen above MaxDecodedValueBytes",
      body(ColumnCodec.MaxDecodedValueBytes + 1L, lit ++ Array[Byte](1, 1)))
    named("null text", good, null)
    // the same stream with the right length decodes (the cases above
    // differ from a valid body only where named)
    assert(Pipelines.htmlDecode(body(lit.length + 27, lit ++ Array[Byte](1, 1)), text)
      .sameElements(lit ++ "first paragraph of the page".getBytes(UTF_8)))
    // a text-slot body read without its text is a named error, not bytes
    val e = intercept[IllegalArgumentException](Pipelines.textDecode(good))
    assert(e.getMessage == Pipelines.TextSlotNeedsText)
    // random corruptions of a valid body, alone and in a column, never hang
    corruptionsOf(good).foreach { c => bounded("htmlDecode")(Pipelines.htmlDecode(c, text)) }
    val column = ColumnCodec.encodeBwtBodies(Array(good, null, Pipelines.textEncode(html)))
    val texts: Array[Array[Byte]] = Array(text, null, text)
    assert(ColumnCodec.decodeHtml(column, texts).map(Option(_).map(_.toSeq)).toSeq ==
      Seq(Some(html.toSeq), None, Some(html.toSeq)))
    corruptionsOf(column).foreach { c => bounded("decodeHtml")(ColumnCodec.decodeHtml(c, texts)) }
  }

  test("FmIndex.deserialize + search: corrupt index bytes never hang") {
    val fm = FmIndex.build("abracadabra banana band stand data".getBytes(UTF_8))
    Seq(0, 5).foreach { k =>
      val ser = fm.serialize(k)
      corruptionsOf(ser).foreach { c =>
        bounded("FmIndex.deserialize/locate") {
          val idx = FmIndex.deserialize(c)
          idx.count("an".getBytes(UTF_8))
          idx.locate("an".getBytes(UTF_8))
        }
      }
    }
  }

  test("ColumnCodec binary/long decode: corrupt chunk payloads never hang") {
    val values: Array[Array[Byte]] = Array(
      "some text value".getBytes(UTF_8), null, "another ☃ value".getBytes(UTF_8))
    val binPayload = ColumnCodec.encodeBinaryNullable(values)
    corruptionsOf(binPayload).foreach { c =>
      bounded("decodeBinaryNullable")(ColumnCodec.decodeBinaryNullable(c))
    }
    val longs = Array(1000000L, 1000060L, 1000060L, 999999L)
    val tsPayload = ColumnCodec.encodeLong(longs)
    corruptionsOf(tsPayload).foreach { c =>
      bounded("decodeLong")(ColumnCodec.decodeLong(c))
    }
  }

  test("reference-format interop decoders never hang on malformed streams") {
    // ReferenceRle.parse: token streams with absurd counts / missing symbols
    bounded("ReferenceRle.parse") {
      ReferenceRle.parse(Seq(Some("999999999"), Some("x"), None, Some("3")))
    }
    bounded("ReferenceRle.parse") {
      ReferenceRle.parse(Seq(Some("not-a-number"), Some("x")))
    }
    bounded("ReferenceMtf.parse") {
      ReferenceMtf.parse(Seq(5, -3, 1 << 30), Seq(Some(65), None))
    }
  }
}
