package graft.codec

/** Order-0 canonical Huffman coder over bytes — the entropy stage the
  * reference pipeline lacks (its RLE/MTF outputs stay byte-aligned with
  * ASCII-decimal counts). Used as a generic wrapper: codec payloads
  * (MTF+RLE varints, FSST code streams) have strongly skewed byte
  * histograms, so an order-0 pass buys a further 20-60% on top.
  *
  * Deterministic: ties in tree building break on symbol value; canonical
  * code assignment from (length, symbol). Header: varint dataLen, then
  * 256 code lengths packed 4 bits... lengths are capped at 15 by
  * repeatedly flattening the tree (JPEG-style), so 128 bytes of header.
  * Degenerate cases (0/1 distinct symbols) are handled explicitly.
  */
object Huffman {

  final val MaxLen = 15

  /** code lengths per symbol (0 = absent), deterministic. */
  def codeLengths(freq: Array[Long]): Array[Int] = {
    val present = (0 until 256).filter(freq(_) > 0)
    val lens = new Array[Int](256)
    if (present.isEmpty) return lens
    if (present.length == 1) { lens(present.head) = 1; return lens }

    // Huffman tree via two-queue method on sorted leaves (deterministic)
    final case class Node(weight: Long, order: Int, sym: Int, left: Node, right: Node)
    val leaves = scala.collection.mutable.Queue(
      present.sortBy(s => (freq(s), s)).map(s => Node(freq(s), s, s, null, null)): _*)
    val internal = scala.collection.mutable.Queue.empty[Node]
    var orderCounter = 256
    def takeMin(): Node = {
      if (leaves.isEmpty) internal.dequeue()
      else if (internal.isEmpty) leaves.dequeue()
      else if (leaves.head.weight < internal.head.weight ||
        (leaves.head.weight == internal.head.weight && leaves.head.order < internal.head.order))
        leaves.dequeue()
      else internal.dequeue()
    }
    while (leaves.size + internal.size > 1) {
      val a = takeMin()
      val b = takeMin()
      internal.enqueue(Node(a.weight + b.weight, { orderCounter += 1; orderCounter }, -1, a, b))
    }
    val root = takeMin()
    def walk(n: Node, depth: Int): Unit =
      if (n.sym >= 0) lens(n.sym) = math.max(depth, 1)
      else { walk(n.left, depth + 1); walk(n.right, depth + 1) }
    walk(root, 0)

    // cap lengths at MaxLen (JPEG Annex K style adjustment)
    if (lens.exists(_ > MaxLen)) {
      val counts = new Array[Int](64)
      lens.foreach(l => if (l > 0) counts(l) += 1)
      var i = 63
      while (i > MaxLen) {
        while (counts(i) > 0) {
          var j = i - 2
          while (counts(j) == 0) j -= 1
          counts(i) -= 2
          counts(i - 1) += 1
          counts(j + 1) += 2
          counts(j) -= 1
        }
        i -= 1
      }
      // reassign lengths canonically: most frequent symbols get shortest
      val bySym = present.sortBy(s => (-freq(s), s))
      val newLens = new Array[Int](256)
      var li = 1
      var k = 0
      bySym.foreach { s =>
        while (counts(li) == 0 || k >= counts(li)) { if (k >= counts(li)) { li += 1; k = 0 } else li += 1 }
        newLens(s) = li
        k += 1
      }
      return newLens
    }
    lens
  }

  /** canonical codes from lengths: symbols ordered by (length, symbol). */
  def canonicalCodes(lens: Array[Int]): Array[Int] = {
    val codes = new Array[Int](256)
    val order = (0 until 256).filter(lens(_) > 0).sortBy(s => (lens(s), s))
    var code = 0
    var prevLen = 0
    order.foreach { s =>
      code <<= (lens(s) - prevLen)
      codes(s) = code
      code += 1
      prevLen = lens(s)
    }
    codes
  }

  /** Byte histogram of `data` (one pass). */
  def histogram(data: Array[Byte]): Array[Long] = {
    val freq = new Array[Long](256)
    var i = 0
    while (i < data.length) { freq(data(i) & 0xFF) += 1; i += 1 }
    freq
  }

  /** EXACT size compress() would produce, without encoding: varint(len)
    * header + 128 length bytes + the code-weighted bit count. Lets
    * wrap-if-smaller call sites skip the encode pass (and the output
    * allocation) for payloads the wrap would not shrink — most
    * already-entropy-coded inputs.
    */
  def compressedSize(freq: Array[Long], lens: Array[Int], dataLen: Int): Long = {
    var bits = 0L
    var i = 0
    while (i < 256) { bits += freq(i) * lens(i); i += 1 }
    val varIntLen =
      if (dataLen == 0) 1
      else (63 - java.lang.Long.numberOfLeadingZeros(dataLen.toLong)) / 7 + 1
    varIntLen + 128L + (bits + 7) / 8
  }

  def compress(data: Array[Byte]): Array[Byte] = {
    val freq = histogram(data)
    val lens = codeLengths(freq)
    compressWithSized(data, lens, compressedSize(freq, lens, data.length).toInt)
  }

  /** Encode with precomputed code lengths (from [[codeLengths]] of the
    * data's own histogram — a foreign table would corrupt). Re-histograms
    * to size the output; hot call sites use [[compressWithSized]] directly.
    */
  def compressWith(data: Array[Byte], lens: Array[Int]): Array[Byte] = {
    val freq = histogram(data)
    compressWithSized(data, lens, compressedSize(freq, lens, data.length).toInt)
  }

  /** Same encoding, but the caller supplies the EXACT output size (from
    * [[compressedSize]], which every wrap-if-smaller call site computes
    * anyway) — one exact allocation, direct array stores, and the bit
    * reservoir drains in a branch every few symbols instead of a
    * capacity-checked `writeByte` per output byte.
    */
  def compressWithSized(data: Array[Byte], lens: Array[Int], outSize: Int): Array[Byte] = {
    val codes = canonicalCodes(lens)
    val out = new Array[Byte](outSize)
    var w = 0
    var v = data.length.toLong & 0xFFFFFFFFL
    while ((v & ~0x7FL) != 0L) { out(w) = ((v & 0x7F) | 0x80).toByte; w += 1; v >>>= 7 }
    out(w) = v.toByte; w += 1
    // 256 lengths, 4 bits each (0..15)
    var i = 0
    while (i < 256) {
      out(w) = ((lens(i) & 0xF) | ((lens(i + 1) & 0xF) << 4)).toByte
      w += 1
      i += 2
    }
    var acc = 0L
    var nbits = 0
    i = 0
    while (i < data.length) {
      val s = data(i) & 0xFF
      acc = (acc << lens(s)) | codes(s)
      nbits += lens(s)
      // MaxLen = 15, so nbits <= 54 here and the shift never drops live bits
      if (nbits >= 40) {
        while (nbits >= 8) { nbits -= 8; out(w) = (acc >>> nbits).toByte; w += 1 }
      }
      i += 1
    }
    while (nbits >= 8) { nbits -= 8; out(w) = (acc >>> nbits).toByte; w += 1 }
    if (nbits > 0) { out(w) = ((acc << (8 - nbits)) & 0xFF).toByte; w += 1 }
    require(w == outSize, s"huffman encode wrote $w bytes, expected $outSize")
    out
  }

  /** Decode only the first symbol (cheap codec-id peek for codecName). */
  def decompressFirst(payload: Array[Byte]): Byte = {
    val full = decompressImpl(payload, limit = 1)
    if (full.isEmpty) 0 else full(0)
  }

  def decompress(payload: Array[Byte]): Array[Byte] =
    decompressImpl(payload, limit = Int.MaxValue)

  /** Decode only the first `limit` symbols — enough to read a small header
    * (e.g. a leading varint) out of a compressed stream without paying for
    * the full decompression.
    */
  private[graft] def decompressPrefix(payload: Array[Byte], limit: Int): Array[Byte] =
    decompressImpl(payload, limit)

  private def decompressImpl(payload: Array[Byte], limit: Int): Array[Byte] = {
    val rd = new Bytes.Reader(payload)
    val n0 = rd.readVarInt()
    // structural bound: the shortest possible code is 1 bit, so a valid
    // stream never decodes to more than 8x its payload bytes — a corrupt
    // length varint must throw, not allocate multi-GB (FuzzDecodeSpec)
    require(n0 >= 0 && n0.toLong <= 8L * payload.length,
      s"corrupt huffman payload: declared size $n0 from ${payload.length} bytes")
    val lens = new Array[Int](256)
    var i = 0
    while (i < 256) {
      val b = rd.readByte()
      lens(i) = b & 0xF
      lens(i + 1) = (b >>> 4) & 0xF
      i += 2
    }
    val n = math.min(n0, limit)
    val out = new Array[Byte](n)
    if (n == 0) return out

    // canonical decode tables per length: firstCode, firstIndex
    val order = (0 until 256).filter(lens(_) > 0).sortBy(s => (lens(s), s)).toArray
    val firstCode = new Array[Int](MaxLen + 2)
    val firstIdx = new Array[Int](MaxLen + 2)
    val countByLen = new Array[Int](MaxLen + 2)
    order.foreach(s => countByLen(lens(s)) += 1)
    var code = 0
    var idx = 0
    var l = 1
    while (l <= MaxLen) {
      firstCode(l) = code
      firstIdx(l) = idx
      code = (code + countByLen(l)) << 1
      idx += countByLen(l)
      l += 1
    }

    // fast path: one 256-entry peek table resolves all codes of length <= 8
    // in a single lookup ((sym << 4) | len, or 0 when the prefix is longer)
    val peek = new Array[Int](256)
    var oi = 0
    while (oi < order.length && lens(order(oi)) <= 8) {
      val s = order(oi)
      val l = lens(s)
      val codeBase = (firstCode(l) + (oi - firstIdx(l))) << (8 - l)
      var fill = 0
      while (fill < (1 << (8 - l))) {
        peek(codeBase | fill) = (s << 4) | l
        fill += 1
      }
      oi += 1
    }

    // bit reservoir, MSB-aligned in the low bits of acc; refilled lazily in
    // 48-bit gulps (a code is at most 15 bits, so 16 banked bits always
    // cover the next symbol) instead of a checked byte-loop per symbol
    var acc = 0L
    var nbits = 0
    var w = 0
    val arr = rd.arr
    var pos = rd.pos
    val end = arr.length
    while (w < n) {
      if (nbits < 16) {
        if (pos + 6 <= end) {
          acc = (acc << 48) |
            ((arr(pos) & 0xFFL) << 40) | ((arr(pos + 1) & 0xFFL) << 32) |
            ((arr(pos + 2) & 0xFFL) << 24) | ((arr(pos + 3) & 0xFFL) << 16) |
            ((arr(pos + 4) & 0xFFL) << 8) | (arr(pos + 5) & 0xFFL)
          pos += 6
          nbits += 48
        } else {
          while (nbits <= 56 && pos < end) {
            acc = (acc << 8) | (arr(pos) & 0xFFL)
            pos += 1
            nbits += 8
          }
        }
      }
      val window = if (nbits >= 8) ((acc >>> (nbits - 8)) & 0xFF).toInt
        else ((acc << (8 - nbits)) & 0xFF).toInt
      val hit = peek(window)
      if (hit != 0) {
        // a code longer than the bits left was read off the zero padding
        if ((hit & 0xF) > nbits) throw new IllegalArgumentException("corrupt huffman payload: truncated")
        out(w) = (hit >>> 4).toByte
        nbits -= hit & 0xF
        w += 1
      } else {
        // slow path: code longer than 8 bits
        var len = 8
        var cur = window
        var resolved = false
        while (!resolved) {
          len += 1
          if (len > MaxLen || nbits < len)
            throw new IllegalArgumentException("corrupt huffman payload")
          cur = (cur << 1) | ((acc >>> (nbits - len)) & 1L).toInt
          if (countByLen(len) > 0 && cur >= firstCode(len) && cur - firstCode(len) < countByLen(len)) {
            out(w) = order(firstIdx(len) + (cur - firstCode(len))).toByte
            nbits -= len
            w += 1
            resolved = true
          }
        }
      }
    }
    out
  }
}
