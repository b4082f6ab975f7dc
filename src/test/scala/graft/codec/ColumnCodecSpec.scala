package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

class ColumnCodecSpec extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  test("bit packing roundtrip") {
    val rnd = new scala.util.Random(41)
    (0 to 64).foreach { width =>
      val n = rnd.nextInt(100) + 1
      val max = if (width == 0) 0L else if (width == 64) Long.MaxValue else (1L << width) - 1
      val vals = Array.fill(n)(if (max == 0) 0L else rnd.nextLong() & max)
      val un = Bytes.unpackBits(Bytes.packBits(vals, width), n, width)
      assert(un.toSeq == vals.toSeq, s"width $width")
    }
  }

  test("varint / zigzag roundtrip") {
    val vals = Seq(0L, 1L, -1L, 127L, 128L, -128L, Int.MaxValue.toLong, Long.MaxValue, Long.MinValue)
    val buf = new Bytes.Buf()
    vals.foreach(buf.writeZigZag)
    val rd = new Bytes.Reader(buf.toArray)
    vals.foreach(v => assert(rd.readZigZag() == v))
    // max-length legitimate varint (10 bytes, e.g. -1L unsigned) decodes;
    // an 11th continuation byte would wrap shift mod 64 into a bogus small
    // value that bypasses size guards — it must throw instead
    val ok = new Bytes.Buf(); ok.writeVarLong(-1L)
    assert(new Bytes.Reader(ok.toArray).readVarLong() == -1L)
    val bomb = Array.fill[Byte](12)(0xFF.toByte)
    intercept[IllegalArgumentException](new Bytes.Reader(bomb).readVarLong())
  }

  test("binary column: auto-selected codecs roundtrip on characteristic shapes") {
    val rnd = new scala.util.Random(43)
    val langs = Array("en", "fr", "es", "zh", "de")
    val shapes: Seq[Array[Array[Byte]]] = Seq(
      Array.empty[Array[Byte]],
      Array(Array.emptyByteArray),
      // low-distinct -> dict
      Array.fill(500)(bytes(langs(rnd.nextInt(5)))),
      // runs-heavy -> rle
      Array.tabulate(400)(i => bytes(langs(i / 100))),
      // short text-ish -> fsst
      Array.fill(200)(bytes("user-" + rnd.nextInt(50) + "@example.com")),
      // long text -> bwt pipeline
      Array.fill(8) {
        val sb = new StringBuilder
        (1 to 200).foreach(_ => sb.append(Seq("lorem", "ipsum", "dolor", "sit")(rnd.nextInt(4))).append(' '))
        bytes(sb.toString)
      },
      // high entropy -> raw fallback
      Array.fill(50)(Array.fill(30)(rnd.nextInt(256).toByte))
    )
    shapes.foreach { vals =>
      val enc = ColumnCodec.encodeBinary(vals)
      val dec = ColumnCodec.decodeBinary(enc)
      assert(dec.length == vals.length)
      vals.indices.foreach(i => assert(dec(i).sameElements(vals(i)), s"value $i (${ColumnCodec.codecName(enc)})"))
      // determinism
      assert(ColumnCodec.encodeBinary(vals).sameElements(enc))
    }
  }

  test("binary column: expected codec choices") {
    val rnd = new scala.util.Random(47)
    val langs = Array("en", "fr", "es", "zh", "de")
    def base(payload: Array[Byte]): String =
      ColumnCodec.codecName(payload).stripPrefix("huf+")
    val dictish = Array.fill(500)(bytes(langs(rnd.nextInt(5))))
    assert(base(ColumnCodec.encodeBinary(dictish)) == "dict")
    val runish = Array.tabulate(400)(i => bytes(langs(i / 100)))
    val runCodec = base(ColumnCodec.encodeBinary(runish))
    assert(runCodec == "rle" || runCodec == "dict") // both tiny; selector picks min
    val entropic = Array.fill(50)(Array.fill(30)(rnd.nextInt(256).toByte))
    assert(base(ColumnCodec.encodeBinary(entropic)) == "raw")
  }

  test("long column: auto-selected codecs roundtrip") {
    val rnd = new scala.util.Random(53)
    val shapes: Seq[Array[Long]] = Seq(
      Array.empty[Long],
      Array(42L),
      Array.fill(300)(7L), // constant -> rle
      Array.tabulate(500)(i => 1666000000000000L + i * 1000L), // sorted ts -> delta
      Array.fill(400)(rnd.nextInt(1000).toLong), // narrow -> for_bitpack
      Array.fill(100)(rnd.nextLong()), // wide random
      Array.tabulate(300)(i => i.toLong * (if (i % 2 == 0) 1 else -1))
    )
    shapes.foreach { vals =>
      val enc = ColumnCodec.encodeLong(vals)
      assert(ColumnCodec.decodeLong(enc).toSeq == vals.toSeq, ColumnCodec.codecName(enc))
      assert(ColumnCodec.encodeLong(vals).sameElements(enc))
    }
  }

  test("long column: expected codec choices") {
    def base(payload: Array[Byte]): String =
      ColumnCodec.codecName(payload).stripPrefix("huf+")
    // constant column: rle_long and delta_for (width 0) are both ~5 bytes
    val constCodec = base(ColumnCodec.encodeLong(Array.fill(300)(7L)))
    assert(constCodec == "rle_long" || constCodec == "delta_for")
    val sortedTs = Array.tabulate(500)(i => 1666000000000000L + i * 1000L)
    assert(base(ColumnCodec.encodeLong(sortedTs)) == "delta_for")
    val rnd = new scala.util.Random(59)
    val narrow = Array.fill(400)(rnd.nextInt(1000).toLong)
    assert(base(ColumnCodec.encodeLong(narrow)) == "for_bitpack")
  }

  test("text-slot html: htmlDecode(htmlEncode(h, t), t) == h for any html and text") {
    val rnd = new scala.util.Random(61)
    val words = Array("alpha", "beta", "über", "naïve", "中文", "тест", "\u0001", "data", "<b>", "x")
    def para(): String = Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.length))).mkString(" ")
    def b(s: String): Array[Byte] = s.getBytes(UTF_8)
    var withSlots = 0
    var plain = 0
    (0 until 400).foreach { c =>
      // empty text, one paragraph without '\n', or several split by '\n'
      // or "\r\n" (then every paragraph but the last ends in '\r')
      val paras = IndexedSeq.fill(rnd.nextInt(6))(para())
      val text = b(paras.mkString(if (c % 3 == 0) "\r\n" else "\n"))
      val out = new Bytes.Buf()
      out.writeBytes(b("<html>\u0001<body>"))
      (0 until rnd.nextInt(9)).foreach { _ =>
        val p = b(if (paras.isEmpty) para() else paras(rnd.nextInt(paras.size)))
        rnd.nextInt(6) match {
          case 0 => out.writeBytes(b("<p>")); out.writeBytes(p); out.writeBytes(b("</p>"))
          case 1 => out.writeBytes(p); out.writeBytes(p) // repeated
          case 2 => // overlapping: a suffix of one paragraph runs into another
            out.writeBytes(p, p.length / 2, p.length - p.length / 2)
            out.writeBytes(b(if (paras.isEmpty) para() else paras(rnd.nextInt(paras.size))))
          case 3 => out.writeBytes(text) // the whole text, separators included
          case 4 => out.writeBytes(Array.fill(rnd.nextInt(12))(rnd.nextInt(256).toByte))
          case _ => out.writeByte(1); out.writeBytes(p.reverse)
        }
      }
      val html = out.toArray
      val enc = Pipelines.htmlEncode(html, text)
      assert(Pipelines.htmlDecode(enc, text).sameElements(html), s"case $c")
      assert(Pipelines.rawLenOf(enc) == html.length.toLong, s"case $c")
      if (enc.head == Pipelines.TextSlotTag) withSlots += 1
      else {
        plain += 1
        assert(enc.sameElements(Pipelines.textEncode(html)), s"case $c: no slot must be textEncode")
      }
      // a null text slots nothing
      val noText = Pipelines.htmlEncode(html, null)
      assert(noText.sameElements(Pipelines.textEncode(html)))
      assert(Pipelines.htmlDecode(noText, null).sameElements(html))
    }
    assert(withSlots > 100 && plain > 20, s"$withSlots slotted, $plain plain")
    // null html and null text slots in one column
    val html = b("<p>a paragraph of the page</p>")
    val text = b("a paragraph of the page")
    val col = ColumnCodec.encodeBwtBodies(
      Array(Pipelines.htmlEncode(html, text), null, Pipelines.htmlEncode(html, null)))
    assert(ColumnCodec.decodeHtml(col, Array(text, text, null)).map(Option(_).map(_.toSeq)).toSeq ==
      Seq(Some(html.toSeq), None, Some(html.toSeq)))
  }

  test("text-slot html: paragraph searches stop after a budget of html passes") {
    // 4,000 paragraphs the html does not hold, each miss a scan of the
    // whole html, then one it ends with: past the budget the last one is
    // not searched, so the body is plain
    val html = ("<p>" + "lorem ipsum " * 2000 + "the final paragraph</p>").getBytes(UTF_8)
    val misses = (0 until 4000).map(i => f"absent paragraph $i%05d")
    val text = (misses :+ "the final paragraph").mkString("\n").getBytes(UTF_8)
    val enc = Pipelines.htmlEncode(html, text)
    assert(enc.sameElements(Pipelines.textEncode(html)))
    // within the budget the same paragraph is slotted
    val near = (misses.take(3) :+ "the final paragraph").mkString("\n").getBytes(UTF_8)
    assert(Pipelines.htmlEncode(html, near).head == Pipelines.TextSlotTag)
    assert(Pipelines.htmlDecode(Pipelines.htmlEncode(html, near), near).sameElements(html))

    // near-misses: a run of one byte in the html and a paragraph of the
    // same run ending in another byte compare up to a paragraph at every
    // position (4e10 byte compares here without the budget); the budget
    // counts compared bytes, so the miss stops after 8 html lengths
    val run = Array.fill[Byte](400000)('a')
    val nearMiss = (new String(run, 0, 200000, UTF_8) + "b\n" + "a" * 100).getBytes(UTF_8)
    val t0 = System.nanoTime()
    val runEnc = Pipelines.htmlEncode(run, nearMiss)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 5.0, f"near-miss search took $secs%.1f s")
    assert(runEnc.sameElements(Pipelines.textEncode(run)))
  }

  test("text-slot html column: at most 0.6x the plain-body column on PagesGen pages, decode bit-identical") {
    val pages = (0L until 48L).map(i => graft.spark.PagesGen.page(7L, i, 20, hostSkew = true))
    val htmls = pages.map(_.html).toArray
    val texts = pages.map(_.text.getBytes(UTF_8)).toArray
    val plain = ColumnCodec.encodeBwtBodies(htmls.map(Pipelines.textEncode))
    val slotted = ColumnCodec.encodeBwtBodies(htmls.indices.map(i => Pipelines.htmlEncode(htmls(i), texts(i))).toArray)
    val textCol = ColumnCodec.encodeBwtBodies(texts.map(Pipelines.textEncode))
    val raw = (htmls.map(_.length.toLong).sum + texts.map(_.length.toLong).sum).toDouble
    info(f"html column ${slotted.length.toDouble / plain.length}%.4f of the plain-body encode; " +
      f"text + html ${(textCol.length + plain.length) / raw}%.4f -> ${(textCol.length + slotted.length) / raw}%.4f of raw")
    assert(slotted.length <= 0.6 * plain.length, s"${slotted.length} vs plain ${plain.length}")
    val back = ColumnCodec.decodeHtml(slotted, texts)
    assert(back.length == htmls.length && htmls.indices.forall(i => back(i).sameElements(htmls(i))))
  }

  test("fsst encodes repetitive strings smaller than raw") {
    val vals = Array.fill(300)(bytes("https://host-42.example.com/path/to/page"))
    val fsst = ColumnCodec.encodeFsst(vals)
    val raw = ColumnCodec.encodeRawBin(vals)
    assert(fsst.length < raw.length)
    val dec = ColumnCodec.decodeBinary(fsst)
    vals.indices.foreach(i => assert(dec(i).sameElements(vals(i))))
  }
}
