package graft.codec

import scala.collection.mutable

/** Column-chunk encoding with deterministic codec auto-selection — the
  * north rule's per-column lightweight-compression set (BASELINE.json:14):
  * dictionary, RLE, FSST, bit-packing, frame-of-reference, plus the
  * BWT+MTF+RLE path for high-entropy text/html columns, with raw fallback
  * so the encoded size never exceeds raw + a few header bytes (which keeps
  * the ≤-reference-size gate true by construction).
  *
  * Every payload is self-describing: first byte = codec id, so decode needs
  * no side channel and the lineage table can report the codec per chunk.
  *
  * Selection is *stats-driven first* (cheap single pass: distinct estimate,
  * run count, total bytes, min/max) and only materializes the shortlisted
  * candidate encodings — at 100 TB we cannot afford encode-everything-
  * pick-smallest over every codec.
  */
object ColumnCodec {

  // binary/string column codecs
  final val RawBin = 0
  final val DictBin = 1
  final val RleBin = 2
  final val FsstBin = 3
  final val BwtBin = 4
  final val HufWrap = 5 // order-0 Huffman over another (self-describing) payload

  /** Documents above this size never take the BWT path (SA build costs
    * ~9x the input in task memory; outliers must not OOM an executor).
    */
  final val MaxBwtDocBytes: Int = 8 << 20

  final val NullWrap = 6 // null-presence bitmap + inner payload

  /** Structural decode bounds (corrupt-payload guards — FuzzDecodeSpec):
    * a flipped length varint must throw promptly, never drive a multi-GB
    * allocation. MaxChunkValues is far above any real chunkRows config;
    * MaxDecodedValueBytes bounds single-value expansions on paths without
    * a tighter structural bound.
    */
  final val MaxChunkValues = 1 << 22
  final val MaxDecodedValueBytes = 1 << 28

  /** Per-chunk value count with the corruption guard applied. */
  private def readCount(rd: Bytes.Reader): Int = {
    val n = rd.readVarInt()
    require(n >= 0 && n <= MaxChunkValues, s"corrupt chunk payload: value count $n")
    n
  }
  // long column codecs
  final val RawLong = 10
  final val ForPack = 11
  final val DeltaFor = 12
  final val RleLong = 13

  def codecName(payload: Array[Byte]): String = (payload(0) & 0xFF) match {
    case RawBin   => "raw"
    case DictBin  => "dict"
    case RleBin   => "rle"
    case FsstBin  => "fsst"
    case BwtBin   => "bwt_mtf_rle"
    case HufWrap  =>
      // one decoded byte is enough for a flat name, not for recursing
      // into wrappers that need their headers
      val inner = Huffman.decompressFirst(
        java.util.Arrays.copyOfRange(payload, 1, payload.length))
      "huf+" + flatName(inner & 0xFF)
    case NullWrap =>
      val rd = new Bytes.Reader(payload, 1)
      val n = rd.readVarInt()
      rd.readBytes((n + 7) / 8)
      "nullable+" + codecName(java.util.Arrays.copyOfRange(payload, rd.pos, payload.length))
    case RawLong  => "raw_long"
    case ForPack  => "for_bitpack"
    case DeltaFor => "delta_for"
    case RleLong  => "rle_long"
    case other    => s"unknown_$other"
  }

  private def flatName(id: Int): String = id match {
    case RawBin   => "raw"
    case DictBin  => "dict"
    case RleBin   => "rle"
    case FsstBin  => "fsst"
    case BwtBin   => "bwt_mtf_rle"
    case NullWrap => "nullable"
    case RawLong  => "raw_long"
    case ForPack  => "for_bitpack"
    case DeltaFor => "delta_for"
    case RleLong  => "rle_long"
    case other    => s"unknown_$other"
  }

  // ---------------------------------------------------------------- strings

  /** Encode a chunk of binary values (strings arrive UTF-8 encoded). */
  def encodeBinary(values: Array[Array[Byte]]): Array[Byte] = {
    val n = values.length
    if (n == 0) return Array[Byte](RawBin.toByte, 0)

    // one cheap stats pass
    var totalBytes = 0L
    var runs = if (n > 0) 1 else 0
    val distinctCap = math.max(64, n / 4)
    val distinct = mutable.HashSet.empty[Seq[Byte]]
    var distinctOver = false
    var i = 0
    while (i < n) {
      totalBytes += values(i).length
      if (i > 0 && !java.util.Arrays.equals(values(i), values(i - 1))) runs += 1
      if (!distinctOver) {
        distinct += values(i).toSeq
        if (distinct.size > distinctCap) distinctOver = true
      }
      i += 1
    }
    val avgLen = totalBytes.toDouble / n

    val candidates = mutable.ArrayBuffer.empty[Array[Byte]]
    if (!distinctOver && distinct.size.toLong * (avgLen + 4) < totalBytes / 2)
      candidates += encodeDict(values)
    if (runs <= n / 4) candidates += encodeRleValues(values)
    var maxLen = 0
    i = 0
    while (i < n) { if (values(i).length > maxLen) maxLen = values(i).length; i += 1 }

    if (avgLen >= 512 && maxLen > MaxBwtDocBytes) {
      // a pathological document would make one task's SA build allocate
      // ~9x its size; at 10^12-doc scale such outliers exist — cap them
      // out of the BWT path and let FSST/raw carry the chunk
      candidates += encodeFsst(values)
    } else if (avgLen >= 512) {
      // long text/html: decide FSST vs BWT on a small sample so the chunk
      // is encoded exactly once — at 100 TB we cannot encode-both-pick-min
      var sampleBytes = 0L
      var sampleN = 0
      while (sampleN < n && sampleN < 4 && sampleBytes < 65536) {
        sampleBytes += values(sampleN).length; sampleN += 1
      }
      val sample = values.take(sampleN)
      val bwtSize = sample.map(v => Pipelines.textEncode(v).length.toLong).sum
      val fsstTable = Fsst.buildTable(sample)
      val fsstBuf = new Bytes.Buf()
      sample.foreach(v => Fsst.encodeValue(fsstTable, v, fsstBuf))
      val fsstSize = fsstBuf.size.toLong + Fsst.serializeTable(fsstTable).length
      candidates += (if (bwtSize <= fsstSize) encodeBwtValues(values) else encodeFsst(values))
    } else if (totalBytes >= 64) candidates += encodeFsst(values)
    candidates += encodeRawBin(values)
    val best = candidates.minBy(_.length)
    hufWrapIfSmaller(best)
  }

  /** Nullable binary column: nulls are recorded in a presence bitmap and
    * encoded as empty values; the bitmap wrapper is only added when nulls
    * actually occur, so null-free data pays nothing.
    */
  def encodeBinaryNullable(values: Array[Array[Byte]]): Array[Byte] =
    if (!values.contains(null)) encodeBinary(values)
    else nullWrap(values, encodeBinary(values.map(v => if (v == null) Array.emptyByteArray else v)))

  /** NullWrap: `values`' null-presence bitmap in front of `inner`, the
    * payload that holds their non-null slots.
    */
  private def nullWrap(values: Array[Array[Byte]], inner: Array[Byte]): Array[Byte] = {
    val bitmap = new Array[Byte]((values.length + 7) / 8)
    var i = 0
    while (i < values.length) {
      if (values(i) == null) bitmap(i >> 3) = (bitmap(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    val buf = new Bytes.Buf(inner.length + bitmap.length + 8)
    buf.writeByte(NullWrap)
    buf.writeVarInt(values.length)
    buf.writeBytes(bitmap)
    buf.writeBytes(inner)
    buf.toArray
  }

  /** Inverse of [[encodeBinaryNullable]]; null entries restored. Handles
    * any wrapper order (huf(nullable(inner)) and nullable(huf(inner))).
    */
  def decodeBinaryNullable(payload: Array[Byte]): Array[Array[Byte]] = {
    (payload(0) & 0xFF) match {
      case HufWrap =>
        return decodeBinaryNullable(
          Huffman.decompress(java.util.Arrays.copyOfRange(payload, 1, payload.length)))
      case NullWrap => // handled below
      case _ => return decodeBinary(payload)
    }
    val rd = new Bytes.Reader(payload, 1)
    val n = readCount(rd)
    val bitmap = rd.readBytes((n + 7) / 8)
    val inner = decodeBinary(rd.readBytes(rd.remaining))
    var i = 0
    while (i < n) {
      if (((bitmap(i >> 3) >> (i & 7)) & 1) == 1) inner(i) = null
      i += 1
    }
    inner
  }

  /** The per-value text container over already-compressed bodies, one per
    * value (`null` for a null value): the BwtBin container, a NullWrap
    * bitmap when a body is null, and the Huffman wrap when it pays. Inverse
    * of [[extractBwtBodies]].
    */
  def encodeBwtBodies(bodies: Array[Array[Byte]]): Array[Byte] = {
    val container = bwtContainer(bodies)
    hufWrapIfSmaller(if (bodies.contains(null)) nullWrap(bodies, container) else container)
  }

  /** Per-value compressed bodies of a BwtBin-family payload, WITHOUT
    * decoding them: unwraps HufWrap/NullWrap and slices the container into
    * its stored bodies (`null` for null-bitmap slots). Returns `None` when
    * the payload's codec is not per-value (Dict/Rle/Fsst/Raw chose
    * differently) — callers fall back to a decode + re-encode.
    *
    * The contract that makes reuse sound: a body extracted here is exactly
    * `Pipelines.textEncode(value)` for the value it encodes (for html,
    * `Pipelines.htmlEncode(value, rowText)`; in tables written before text
    * slots, `textEncode(value)`; in tables written with the since-removed
    * speed-biased policy, `Pipelines.textEncodeFast(value)`), and all are
    * deterministic — so [[encodeBwtBodies]] over extracted bodies yields the
    * payload a fresh encode of the same row slice writes (for tables
    * written by the current encoder).
    */
  def extractBwtBodies(payload: Array[Byte]): Option[Array[Array[Byte]]] =
    (payload(0) & 0xFF) match {
      case HufWrap =>
        extractBwtBodies(
          Huffman.decompress(java.util.Arrays.copyOfRange(payload, 1, payload.length)))
      case NullWrap =>
        val rd = new Bytes.Reader(payload, 1)
        val n = readCount(rd)
        val bitmap = rd.readBytes((n + 7) / 8)
        extractBwtBodies(rd.readBytes(rd.remaining)).map { bodies =>
          var i = 0
          while (i < n) {
            if (((bitmap(i >> 3) >> (i & 7)) & 1) == 1) bodies(i) = null
            i += 1
          }
          bodies
        }
      case BwtBin =>
        val rd = new Bytes.Reader(payload, 1)
        val n = readCount(rd)
        Some(Array.fill(n)(rd.readBytes(rd.readVarInt())))
      case _ => None
    }

  /** Decode an html column payload against its chunk's decoded `texts`
    * (same slots, null for a null text): per-value bodies go through
    * [[Pipelines.htmlDecode]], which splices text-slot bodies (tag 5) from
    * their row's text; other codecs hold no such bodies and decode as
    * [[decodeBinaryNullable]].
    */
  def decodeHtml(payload: Array[Byte], texts: Array[Array[Byte]]): Array[Array[Byte]] =
    extractBwtBodies(payload) match {
      case Some(bodies) =>
        require(bodies.length == texts.length,
          s"corrupt chunk: ${bodies.length} html values for ${texts.length} texts")
        var i = 0
        while (i < bodies.length) {
          if (bodies(i) != null) bodies(i) = Pipelines.htmlDecode(bodies(i), texts(i))
          i += 1
        }
        bodies
      case None => decodeBinaryNullable(payload)
    }

  /** Entropy stage: wrap the chosen payload in order-0 Huffman when that
    * shrinks it (codec streams have skewed byte histograms). One cheap
    * pass; never chosen when it loses, so strictly monotone on size.
    */
  private def hufWrapIfSmaller(payload: Array[Byte]): Array[Byte] = {
    // exact-size precheck: the encode pass only runs when the wrap wins
    val freq = Huffman.histogram(payload)
    val lens = Huffman.codeLengths(freq)
    val hSize = Huffman.compressedSize(freq, lens, payload.length)
    if (hSize + 1 >= payload.length) return payload
    val huf = Huffman.compressWithSized(payload, lens, hSize.toInt)
    val out = new Array[Byte](huf.length + 1)
    out(0) = HufWrap.toByte
    System.arraycopy(huf, 0, out, 1, huf.length)
    out
  }

  def decodeBinary(payload: Array[Byte]): Array[Array[Byte]] = {
    val rd = new Bytes.Reader(payload)
    val id = rd.readByte()
    id match {
      case RawBin   => decodeRawBin(rd)
      case DictBin  => decodeDict(rd)
      case RleBin   => decodeRleValues(rd)
      case FsstBin  => decodeFsst(rd)
      case BwtBin   => decodeBwtValues(rd)
      case HufWrap  => decodeBinary(Huffman.decompress(rd.readBytes(rd.remaining)))
      case other    => throw new IllegalArgumentException(s"not a binary codec: $other")
    }
  }

  def encodeRawBin(values: Array[Array[Byte]]): Array[Byte] = {
    val buf = new Bytes.Buf()
    buf.writeByte(RawBin)
    buf.writeVarInt(values.length)
    values.foreach { v => buf.writeVarInt(v.length); buf.writeBytes(v) }
    buf.toArray
  }

  private def decodeRawBin(rd: Bytes.Reader): Array[Array[Byte]] = {
    val n = readCount(rd)
    Array.fill(n)(rd.readBytes(rd.readVarInt()))
  }

  /** Sorted dictionary + bit-packed codes. */
  def encodeDict(values: Array[Array[Byte]]): Array[Byte] = {
    implicit val ord: Ordering[Seq[Byte]] = {
      import scala.math.Ordering.Implicits._
      Ordering.by((s: Seq[Byte]) => s.map(_ & 0xFF).toIndexedSeq)
    }
    val dict = values.map(_.toSeq).distinct.sorted
    val index = dict.zipWithIndex.toMap
    val codes = values.map(v => index(v.toSeq).toLong)
    val width = math.max(1, Bytes.bitsFor(math.max(dict.length - 1, 1).toLong))
    val buf = new Bytes.Buf()
    buf.writeByte(DictBin)
    buf.writeVarInt(values.length)
    buf.writeVarInt(dict.length)
    dict.foreach { d => buf.writeVarInt(d.length); buf.writeBytes(d.toArray) }
    buf.writeByte(width)
    buf.writeBytes(Bytes.packBits(codes, width))
    buf.toArray
  }

  private def decodeDict(rd: Bytes.Reader): Array[Array[Byte]] = {
    val n = readCount(rd)
    val dictLen = rd.readVarInt()
    require(dictLen >= 0 && dictLen <= n, s"corrupt dict payload: $dictLen entries for $n values")
    val dict = Array.fill(dictLen)(rd.readBytes(rd.readVarInt()))
    val width = rd.readByte()
    val codes = Bytes.unpackBits(rd.readBytes(rd.remaining), n, width)
    codes.map(c => dict(c.toInt))
  }

  /** Runs of identical consecutive values. */
  def encodeRleValues(values: Array[Array[Byte]]): Array[Byte] = {
    val buf = new Bytes.Buf()
    buf.writeByte(RleBin)
    buf.writeVarInt(values.length)
    var i = 0
    while (i < values.length) {
      var j = i + 1
      while (j < values.length && java.util.Arrays.equals(values(j), values(i))) j += 1
      buf.writeVarInt(j - i)
      buf.writeVarInt(values(i).length)
      buf.writeBytes(values(i))
      i = j
    }
    buf.toArray
  }

  private def decodeRleValues(rd: Bytes.Reader): Array[Array[Byte]] = {
    val n = readCount(rd)
    val out = new Array[Array[Byte]](n)
    var w = 0
    while (w < n) {
      val run = rd.readVarInt()
      val v = rd.readBytes(rd.readVarInt())
      var c = 0
      while (c < run) { out(w) = v; w += 1; c += 1 }
    }
    out
  }

  /** FSST: shared per-chunk symbol table + per-value encoded segments. */
  def encodeFsst(values: Array[Array[Byte]]): Array[Byte] = {
    val table = Fsst.buildTable(values)
    val buf = new Bytes.Buf()
    buf.writeByte(FsstBin)
    buf.writeVarInt(values.length)
    buf.writeBytes(Fsst.serializeTable(table))
    val enc = new Bytes.Buf()
    val lens = new Array[Int](values.length)
    var i = 0
    while (i < values.length) {
      val before = enc.size
      Fsst.encodeValue(table, values(i), enc)
      lens(i) = enc.size - before
      i += 1
    }
    i = 0
    while (i < values.length) { buf.writeVarInt(lens(i)); i += 1 }
    buf.writeBytes(enc.toArray)
    buf.toArray
  }

  private def decodeFsst(rd: Bytes.Reader): Array[Array[Byte]] = {
    val n = readCount(rd)
    val table = Fsst.deserializeTable(rd)
    val lens = Array.fill(n)(rd.readVarInt())
    val data = rd.readBytes(rd.remaining)
    val out = new Array[Array[Byte]](n)
    var off = 0
    var i = 0
    while (i < n) {
      out(i) = Fsst.decodeValue(table, data, off, lens(i))
      off += lens(i)
      i += 1
    }
    out
  }

  /** Per-value BWT+MTF+RLE (never across value boundaries — SURVEY.md §7.4
    * chunking decision, keeps the per-url bit-identical invariant local).
    */
  def encodeBwtValues(values: Array[Array[Byte]]): Array[Byte] =
    bwtContainer(values.map(Pipelines.textEncode))

  /** The BwtBin container: value count, then each body length-prefixed. A
    * null slot stores the canonical empty body (its NullWrap bit restores
    * the null).
    */
  private def bwtContainer(bodies: Array[Array[Byte]]): Array[Byte] = {
    val buf = new Bytes.Buf()
    buf.writeByte(BwtBin)
    buf.writeVarInt(bodies.length)
    bodies.foreach { b =>
      val v = if (b == null) EmptyTextBody else b
      buf.writeVarInt(v.length)
      buf.writeBytes(v)
    }
    buf.toArray
  }

  private val EmptyTextBody: Array[Byte] = Pipelines.textEncode(Array.emptyByteArray)

  private def decodeBwtValues(rd: Bytes.Reader): Array[Array[Byte]] = {
    val n = readCount(rd)
    Array.fill(n)(Pipelines.textDecode(rd.readBytes(rd.readVarInt())))
  }

  // ------------------------------------------------------------------ longs

  def encodeLong(values: Array[Long]): Array[Byte] = {
    val n = values.length
    if (n == 0) return Array[Byte](RawLong.toByte, 0)
    var min = Long.MaxValue
    var max = Long.MinValue
    var runs = 1
    var sorted = true
    var maxDelta = 0L
    var i = 0
    while (i < n) {
      val v = values(i)
      if (v < min) min = v
      if (v > max) max = v
      if (i > 0) {
        if (values(i) != values(i - 1)) runs += 1
        val d = values(i) - values(i - 1)
        if (d < 0) sorted = false
        else if (d > maxDelta) maxDelta = d
      }
      i += 1
    }
    val candidates = mutable.ArrayBuffer.empty[Array[Byte]]
    if (runs <= n / 4) candidates += encodeRleLong(values)
    if (sorted && n > 1) candidates += encodeDeltaFor(values, maxDelta)
    candidates += encodeForPack(values, min, max)
    // raw varint only competes for tiny chunks; cheap enough to always try
    candidates += encodeRawLong(values)
    hufWrapIfSmaller(candidates.minBy(_.length))
  }

  def decodeLong(payload: Array[Byte]): Array[Long] = {
    val rd = new Bytes.Reader(payload)
    rd.readByte() match {
      case RawLong  => decodeRawLong(rd)
      case ForPack  => decodeForPack(rd)
      case DeltaFor => decodeDeltaForImpl(rd)
      case RleLong  => decodeRleLong(rd)
      case HufWrap  => decodeLong(Huffman.decompress(rd.readBytes(rd.remaining)))
      case other    => throw new IllegalArgumentException(s"not a long codec: $other")
    }
  }

  def encodeRawLong(values: Array[Long]): Array[Byte] = {
    val buf = new Bytes.Buf()
    buf.writeByte(RawLong)
    buf.writeVarInt(values.length)
    values.foreach(buf.writeZigZag)
    buf.toArray
  }

  private def decodeRawLong(rd: Bytes.Reader): Array[Long] = {
    val n = readCount(rd)
    Array.fill(n)(rd.readZigZag())
  }

  /** Frame-of-reference + bit-pack: store min, pack (v - min). */
  def encodeForPack(values: Array[Long], min: Long, max: Long): Array[Byte] = {
    val width = Bytes.bitsFor(max - min)
    val buf = new Bytes.Buf()
    buf.writeByte(ForPack)
    buf.writeVarInt(values.length)
    buf.writeZigZag(min)
    buf.writeByte(width)
    buf.writeBytes(Bytes.packBits(values.map(_ - min), width))
    buf.toArray
  }

  private def decodeForPack(rd: Bytes.Reader): Array[Long] = {
    val n = readCount(rd)
    val min = rd.readZigZag()
    val width = rd.readByte()
    Bytes.unpackBits(rd.readBytes(rd.remaining), n, width).map(_ + min)
  }

  /** Delta (sorted input) + frame-of-reference over the deltas. */
  def encodeDeltaFor(values: Array[Long], maxDelta: Long): Array[Byte] = {
    val buf = new Bytes.Buf()
    buf.writeByte(DeltaFor)
    buf.writeVarInt(values.length)
    buf.writeZigZag(values(0))
    val width = Bytes.bitsFor(maxDelta)
    buf.writeByte(width)
    val deltas = new Array[Long](values.length - 1)
    var i = 1
    while (i < values.length) { deltas(i - 1) = values(i) - values(i - 1); i += 1 }
    buf.writeBytes(Bytes.packBits(deltas, width))
    buf.toArray
  }

  private def decodeDeltaForImpl(rd: Bytes.Reader): Array[Long] = {
    val n = readCount(rd)
    val first = rd.readZigZag()
    val width = rd.readByte()
    val deltas = Bytes.unpackBits(rd.readBytes(rd.remaining), n - 1, width)
    val out = new Array[Long](n)
    out(0) = first
    var i = 1
    while (i < n) { out(i) = out(i - 1) + deltas(i - 1); i += 1 }
    out
  }

  def encodeRleLong(values: Array[Long]): Array[Byte] = {
    val buf = new Bytes.Buf()
    buf.writeByte(RleLong)
    buf.writeVarInt(values.length)
    var i = 0
    while (i < values.length) {
      var j = i + 1
      while (j < values.length && values(j) == values(i)) j += 1
      buf.writeVarInt(j - i)
      buf.writeZigZag(values(i))
      i = j
    }
    buf.toArray
  }

  private def decodeRleLong(rd: Bytes.Reader): Array[Long] = {
    val n = readCount(rd)
    val out = new Array[Long](n)
    var w = 0
    while (w < n) {
      val run = rd.readVarInt()
      val v = rd.readZigZag()
      var c = 0
      while (c < run) { out(w) = v; w += 1; c += 1 }
    }
    out
  }
}
