package graft.codec

/** Composed codec pipelines over one document's bytes, mirroring the
  * reference's promoted compositions (module docs,
  * /root/reference/src/Data/RLE.hs:15-22, MTF.hs:17-23: "Users will get the
  * most mileage by first compressing to a 'BWT'"):
  *
  *  - `bwtRle`      = text -> BWT -> RLE            (reference compress path 1)
  *  - `bwtMtf`      = text -> BWT -> MTF            (reference compress path 2)
  *  - `bwtMtfRle`   = text -> BWT -> MTF -> RLE     (north-rule high-entropy path)
  *
  * Each returns a self-describing byte payload; decode is bit-identical
  * (`decode(encode(x)) sameElements x`, the QuickCheck-style law).
  */
object Pipelines {

  /** BWT -> RLE, engine serialization. */
  def bwtRleEncode(text: Array[Byte]): Array[Byte] =
    RleCodec.serialize(RleCodec.encode(BwtCodec.encode(text)))

  def bwtRleDecode(payload: Array[Byte]): Array[Byte] =
    BwtCodec.decode(RleCodec.decode(RleCodec.deserialize(payload)))

  /** BWT -> MTF, engine serialization. */
  def bwtMtfEncode(text: Array[Byte]): Array[Byte] =
    MtfCodec.serialize(MtfCodec.encode(BwtCodec.encode(text)))

  def bwtMtfDecode(payload: Array[Byte]): Array[Byte] =
    BwtCodec.decode(MtfCodec.decode(MtfCodec.deserialize(payload)))

  /** BWT -> MTF -> RLE over the MTF index stream (runs of equal indices,
    * dominated by the 0-runs MTF produces on BWT output), varint-coded.
    *
    * Layout: varint total, varint alphaLen, alphabet bytes, then
    * (varint runLen, varint indexValue) pairs.
    */
  def bwtMtfRleEncode(text: Array[Byte]): Array[Byte] =
    mtfRleSerialize(MtfCodec.encode(BwtCodec.encode(text)))

  /** Fused MTF + run-length varint serialization straight off the BWT —
    * byte-identical to `mtfRleSerialize(MtfCodec.encode(b))` (pinned by a
    * property test) without materializing the intermediate `Array[Int]`
    * index stream or scanning it a second time for runs. Consecutive equal
    * BWT bytes short-circuit the recency-list lookup entirely (they emit
    * MTF index 0 by definition), which is the dominant case on BWT output.
    */
  private[graft] def mtfRleEncodeFused(b: Bwt): Array[Byte] = {
    val total = b.conceptualLength
    val data = b.data
    val n = data.length
    val buf = new Bytes.Buf(total / 4 + 24)
    if (total == 0) { buf.writeVarInt(0); buf.writeVarInt(0); return buf.toArray }

    val present = new Array[Boolean](256)
    var i = 0
    while (i < n) { present(data(i) & 0xFF) = true; i += 1 }
    var sigmaReal = 0
    i = 0
    while (i < 256) { if (present(i)) sigmaReal += 1; i += 1 }
    val alphabet = new Array[Byte](sigmaReal)
    var w = 0
    i = 0
    while (i < 256) { if (present(i)) { alphabet(w) = i.toByte; w += 1 }; i += 1 }
    buf.writeVarInt(total)
    buf.writeVarInt(sigmaReal)
    buf.writeBytes(alphabet)

    // recency list of symbol codes; -1 = sentinel, front-first
    val list = new Array[Int](sigmaReal + 1)
    list(0) = -1
    i = 0
    while (i < sigmaReal) { list(i + 1) = alphabet(i) & 0xFF; i += 1 }

    var runVal = -1 // no MTF index is negative, so -1 = "no open run"
    var runLen = 0
    @inline def emit(j: Int, count: Int): Unit = {
      if (j == runVal) runLen += count
      else {
        if (runLen > 0) { buf.writeVarInt(runLen); buf.writeVarInt(runVal) }
        runVal = j
        runLen = count
      }
    }
    @inline def mtfIndexOf(sym: Int): Int = {
      var j = 0
      while (list(j) != sym) j += 1
      if (j > 0) {
        var k = j
        while (k > 0) { list(k) = list(k - 1); k -= 1 }
        list(0) = sym
      }
      j
    }
    def segment(from: Int, until: Int): Unit = {
      var i = from
      while (i < until) {
        val sym = data(i) & 0xFF
        val j = mtfIndexOf(sym)
        var end = i + 1
        while (end < until && (data(end) & 0xFF) == sym) end += 1
        emit(j, 1)
        if (end - i > 1) emit(0, end - i - 1)
        i = end
      }
    }
    val sent = b.sentinelPos
    segment(0, sent)
    emit(mtfIndexOf(-1), 1)
    segment(sent, n)
    if (runLen > 0) { buf.writeVarInt(runLen); buf.writeVarInt(runVal) }
    buf.toArray
  }

  /** Exact byte size `RleCodec.serialize(RleCodec.encode(b))` would
    * produce, in one allocation-free scan (pinned by a property test).
    * BWT+RLE rarely beats BWT+MTF+RLE on web text, so [[textEncode]] only
    * materializes that candidate when this cost says it wins.
    */
  private[graft] def rleSerializedCost(b: Bwt): Int = {
    if (b.sentinelPos < 0) return 0
    val data = b.data
    @inline def varintSize(x: Int): Int =
      if (x < (1 << 7)) 1
      else if (x < (1 << 14)) 2
      else if (x < (1 << 21)) 3
      else if (x < (1 << 28)) 4
      else 5
    var cost = 1 // sentinel run = single 0-count marker byte
    def segment(from: Int, until: Int): Unit = {
      var i = from
      while (i < until) {
        val s = data(i)
        var j = i + 1
        while (j < until && data(j) == s) j += 1
        cost += varintSize(j - i) + 1
        i = j
      }
    }
    segment(0, b.sentinelPos)
    segment(b.sentinelPos, data.length)
    cost
  }

  private[graft] def mtfRleSerialize(m: MtfChunk): Array[Byte] = {
    val buf = new Bytes.Buf(m.indices.length / 4 + m.alphabet.length + 16)
    buf.writeVarInt(m.indices.length)
    buf.writeVarInt(m.alphabet.length)
    buf.writeBytes(m.alphabet)
    var i = 0
    val len = m.indices.length
    while (i < len) {
      val v = m.indices(i)
      var j = i + 1
      while (j < len && m.indices(j) == v) j += 1
      buf.writeVarInt(j - i)
      buf.writeVarInt(v)
      i = j
    }
    buf.toArray
  }

  def bwtMtfRleDecode(payload: Array[Byte]): Array[Byte] =
    BwtCodec.decode(mtfRleDecodeFusedToBwt(payload))

  /** Fused varint parse + MTF decode straight to the BWT — same result as
    * parsing the (runLen, index) stream into an `Array[Int]` and running
    * `MtfCodec.decode` (pinned by a property test), without materializing
    * either. Runs of index 0 — the bulk of the stream on BWT input — fill
    * the output with the current front symbol, no recency-list work.
    */
  private[graft] def mtfRleDecodeFusedToBwt(payload: Array[Byte]): Bwt = {
    val rd = new Bytes.Reader(payload)
    val totalLen = rd.readVarInt()
    // BWT only ever runs under MaxBwtDocBytes, so a larger declared stream
    // is corrupt — throw before the allocation, not OOM (FuzzDecodeSpec)
    require(totalLen >= 0 && totalLen <= ColumnCodec.MaxBwtDocBytes + 2,
      s"corrupt bwt+mtf+rle payload: declared length $totalLen")
    val alphaLen = rd.readVarInt()
    require(alphaLen >= 0 && alphaLen <= 257, s"corrupt payload: alphabet size $alphaLen")
    val alphabet = rd.readBytes(alphaLen)
    if (totalLen == 0) return Bwt(Array.emptyByteArray, -1)

    val list = new Array[Int](alphaLen + 1)
    list(0) = -1
    var i = 0
    while (i < alphaLen) { list(i + 1) = alphabet(i) & 0xFF; i += 1 }

    val data = new Array[Byte](totalLen - 1)
    var sentinelPos = -1
    var w = 0
    var produced = 0
    while (produced < totalLen) {
      val run = rd.readVarInt()
      val v = rd.readVarInt()
      require(run >= 1 && run <= totalLen - produced,
        s"corrupt mtf+rle payload: run $run with ${totalLen - produced} left")
      if (v == 0 && list(0) >= 0) {
        // front symbol repeated `run` times — no list movement at all
        val sym = list(0).toByte
        java.util.Arrays.fill(data, w, w + run, sym)
        w += run
        produced += run
      } else {
        var c = 0
        while (c < run) {
          var j = v
          val sym = list(j) // out-of-range index throws, as the unfused did
          while (j > 0) { list(j) = list(j - 1); j -= 1 }
          list(0) = sym
          if (sym < 0) sentinelPos = produced
          else { data(w) = sym.toByte; w += 1 }
          produced += 1
          c += 1
        }
      }
    }
    Bwt(data, sentinelPos)
  }

  /** Direct RLE over raw bytes, no BWT, no sentinel — the reference's
    * direct `bytestringToRLEB`-style path (RLE.hs:155-159).
    * Layout: (varint runLen, byte) pairs.
    */
  def rleDirectEncode(bytes: Array[Byte]): Array[Byte] = {
    val buf = new Bytes.Buf(bytes.length / 2 + 8)
    buf.writeVarInt(bytes.length)
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i)
      var j = i + 1
      while (j < bytes.length && bytes(j) == v) j += 1
      buf.writeVarInt(j - i)
      buf.writeByte(v & 0xFF)
      i = j
    }
    buf.toArray
  }

  def rleDirectDecode(payload: Array[Byte]): Array[Byte] = {
    val rd = new Bytes.Reader(payload)
    val n = rd.readVarInt()
    require(n >= 0 && n <= ColumnCodec.MaxDecodedValueBytes,
      s"corrupt rle payload: declared length $n")
    val out = new Array[Byte](n)
    var w = 0
    while (w < n) {
      val run = rd.readVarInt()
      val v = rd.readByte().toByte
      var c = 0
      while (c < run) { out(w) = v; w += 1; c += 1 }
    }
    out
  }

  /** Per-value text encoding: tagged best of {BWT+MTF+RLE, BWT+RLE, raw}.
    *
    * BWT+RLE with varint counts is byte-wise <= the reference's ASCII-count
    * stream pair-for-pair (a varint of any count <= its decimal digit
    * count), which makes the <=-reference size gate structural; BWT+MTF+RLE
    * usually wins on web text; raw floors high-entropy inputs.
    */
  def textEncode(value: Array[Byte]): Array[Byte] = {
    if (value.length > ColumnCodec.MaxBwtDocBytes) {
      // outlier gate: an SA build costs ~9x the input in task memory, so a
      // pathological document must never take the BWT path no matter which
      // caller reaches here (the chunk-level encodeBinary has the same cap).
      // Order-0 Huffman is O(n), constant-memory, and still ~0.6x on text.
      return textEncodeFast(value)
    }
    val bwt = BwtCodec.encode(value) // one SA build, all candidates reuse it
    val a = mtfRleEncodeFused(bwt)
    val bCost = rleSerializedCost(bwt)
    // entropy stage over the MTF+RLE stream: exact-size precheck so the
    // encode pass only runs when tag 3 would actually win
    val freq = Huffman.histogram(a)
    val lens = Huffman.codeLengths(freq)
    val hSize = Huffman.compressedSize(freq, lens, a.length)
    // same winner as minBy((length, tag)) over {0->a, 1->rle, 2->raw,
    // 3->huffman-if-smaller}: strict < keeps the lower tag on ties
    var bestTag = 0
    var bestLen = a.length.toLong
    if (bCost < bestLen) { bestTag = 1; bestLen = bCost }
    if (value.length < bestLen) { bestTag = 2; bestLen = value.length }
    if (hSize < bestLen) { bestTag = 3; bestLen = hSize }
    val best: Array[Byte] = bestTag match {
      case 0 => a
      case 1 =>
        val rle = RleCodec.serialize(RleCodec.encode(bwt))
        require(rle.length == bCost, s"rle cost ${bCost} != serialized ${rle.length}")
        rle
      case 2 => value
      case _ => Huffman.compressWithSized(a, lens, hSize.toInt)
    }
    val out = new Array[Byte](best.length + 1)
    out(0) = bestTag.toByte
    System.arraycopy(best, 0, out, 1, best.length)
    out
  }

  /** Speed-biased per-value encoding: no BWT/SA work at all — order-0
    * Huffman with a raw floor, same self-describing tag space as
    * [[textEncode]] so [[textDecode]] reads both. ~6x the throughput of
    * the BWT pipeline at a weaker ratio (see BENCH/BASELINE.md bias rows).
    * [[textEncode]] takes it for documents above the BWT size cap, and
    * tables written by the removed speed-biased table policy hold its
    * bodies.
    */
  def textEncodeFast(value: Array[Byte]): Array[Byte] = {
    val freq = Huffman.histogram(value)
    val lens = Huffman.codeLengths(freq)
    val hSize = Huffman.compressedSize(freq, lens, value.length)
    val (tag, body) =
      if (hSize < value.length) (4, Huffman.compressWithSized(value, lens, hSize.toInt))
      else (2, value)
    val out = new Array[Byte](body.length + 1)
    out(0) = tag.toByte
    System.arraycopy(body, 0, out, 1, body.length)
    out
  }

  /** Raw (decoded) length of a [[textEncode]]/[[textEncodeFast]] payload,
    * WITHOUT decoding it — every tag's stream leads with enough structure
    * to recover the original length cheaply:
    *  - tag 0 (MTF+RLE): leading `varint(conceptualLength)`; raw = total-1
    *    (the BWT sentinel), 0 when total == 0;
    *  - tag 1 (RLE): run-sum of the varint counts (the 0-marker sentinel
    *    run contributes the +1 that cancels against the sentinel);
    *  - tag 2 (raw): the body length;
    *  - tag 3 (Huffman over MTF+RLE): the inner stream's leading varint,
    *    read via a bounded-prefix decompress (O(1) symbols, not O(n));
    *  - tag 4 (Huffman over raw): the Huffman header's own length varint.
    * This is what lets table compaction re-containerize stored per-value
    * bodies without re-running any BWT/SA work ([[graft.spark.EncodeJob]]).
    */
  def rawLenOf(enc: Array[Byte]): Long = {
    if (enc.isEmpty) return 0L
    (enc(0): Int) match {
      case 0 =>
        val total = new Bytes.Reader(enc, 1).readVarInt()
        if (total == 0) 0L else total - 1L
      case 1 =>
        val rd = new Bytes.Reader(enc, 1)
        var sum = 0L
        while (rd.remaining > 0) {
          val c = rd.readVarInt()
          if (c != 0) { sum += c; rd.readByte() } // 0 = sentinel run marker
        }
        sum
      case 3 =>
        // 10 decoded bytes always covers the leading varint (<= 5 bytes)
        val prefix = Huffman.decompressPrefix(
          java.util.Arrays.copyOfRange(enc, 1, enc.length), 10)
        val total = new Bytes.Reader(prefix).readVarInt()
        if (total == 0) 0L else total - 1L
      case 4 =>
        new Bytes.Reader(enc, 1).readVarInt().toLong // huffman size header
      case _ =>
        (enc.length - 1).toLong // tag 2: raw body
    }
  }

  def textDecode(payload: Array[Byte]): Array[Byte] = {
    if (payload.isEmpty) return Array.emptyByteArray
    val body = java.util.Arrays.copyOfRange(payload, 1, payload.length)
    (payload(0): Int) match {
      case 0 => bwtMtfRleDecode(body)
      case 1 => BwtCodec.decode(RleCodec.decode(RleCodec.deserialize(body)))
      case 3 => bwtMtfRleDecode(Huffman.decompress(body))
      case 4 => Huffman.decompress(body) // huffman-over-raw (outlier gate)
      case _ => body
    }
  }

  /** Reference costing of the canonical compress pipelines for the
    * ≤-reference size gate (SURVEY.md §2.3). `refRleCost` is the
    * BWT->RLE ASCII stream; `refMtfCost` the BWT->MTF one.
    */
  def referenceCosts(text: Array[Byte]): (Long, Long) = {
    val b = BwtCodec.encode(text)
    (ReferenceRle.cost(b), MtfCodec.referenceCost(MtfCodec.encode(b)))
  }
}
