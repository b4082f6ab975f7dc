package graft.codec

import scala.collection.mutable.ArrayBuffer

/** Run-length encoding of a sentinel-bearing symbol stream (normally a BWT).
  *
  * Engine format: parallel arrays of run counts and run symbols, with the
  * sentinel's run identified by index (`sentinelRun`, count always 1), plus
  * a compact varint serialization. Semantically equal to the reference's
  * flat `[count, symbol, count, symbol, ...]` stream
  * (/root/reference/src/Data/RLE/Internal.hs:104-153) but without its
  * ASCII-decimal in-band counts.
  *
  * [[ReferenceRle]] below reproduces the reference stream exactly — quirks
  * included — and is used (a) for the golden fixtures and (b) as the size
  * costing the engine must beat (SURVEY.md §2.3).
  */
final case class RleChunk(counts: Array[Int], symbols: Array[Byte], sentinelRun: Int) {
  def numRuns: Int = counts.length
}

object RleCodec {

  /** Runs over the conceptual n+1 stream of a BWT. Sentinel is always its
    * own run of count 1 (mirrors RLE/Internal.hs:134-140 emitting
    * `("1", Nothing)` mid-stream).
    */
  def encode(b: Bwt): RleChunk = {
    val total = b.conceptualLength
    val counts = new ArrayBuffer[Int]()
    val syms = new ArrayBuffer[Byte]()
    var sentinelRun = -1
    var i = 0
    while (i < total) {
      val s = b.symbolAt(i)
      if (s < 0) {
        sentinelRun = counts.length
        counts += 1
        syms += 0 // placeholder, never read for the sentinel run
        i += 1
      } else {
        var j = i + 1
        while (j < total && b.symbolAt(j) == s) j += 1
        counts += (j - i)
        syms += s.toByte
        i = j
      }
    }
    RleChunk(counts.toArray, syms.toArray, sentinelRun)
  }

  /** The BWT the runs spell; runs that spell more than `maxBytes` bytes
    * are corrupt (the caller's bound: the text column's MaxBwtDocBytes, or
    * an FM index's declared length).
    */
  def decode(r: RleChunk, maxBytes: Long = ColumnCodec.MaxBwtDocBytes + 2L): Bwt = {
    if (r.counts.isEmpty) return Bwt(Array.emptyByteArray, -1)
    var nL = 0L
    var i = 0
    while (i < r.counts.length) {
      if (i != r.sentinelRun) nL += math.max(r.counts(i), 0)
      i += 1
    }
    // a corrupt count must throw, not allocate unboundedly (FuzzDecodeSpec)
    require(nL <= maxBytes, s"corrupt RLE chunk: expands to $nL bytes")
    val n = nL.toInt
    val data = new Array[Byte](n)
    var sentinelPos = -1
    var w = 0
    var pos = 0
    i = 0
    while (i < r.counts.length) {
      if (i == r.sentinelRun) { sentinelPos = pos; pos += 1 }
      else {
        var c = r.counts(i)
        while (c > 0) { data(w) = r.symbols(i); w += 1; c -= 1 }
        pos += r.counts(i)
      }
      i += 1
    }
    Bwt(data, sentinelPos)
  }

  /** Headerless serialization: per run `(varint count, symbol byte)`, with
    * the sentinel run written as a single 0-count marker byte (real counts
    * are always >= 1). This is *structurally* <= the reference's ASCII
    * stream (SURVEY.md §2.3): a varint never exceeds the decimal digit
    * count of the same value, symbols cost 1 byte on both sides, and the
    * sentinel costs 1 byte here vs 2 there ("1" + symbol) — before even
    * counting the reference's trailing duplicate-sentinel quirk.
    */
  def serialize(r: RleChunk): Array[Byte] = {
    val buf = new Bytes.Buf(r.numRuns * 2 + 4)
    var i = 0
    while (i < r.numRuns) {
      if (i == r.sentinelRun) buf.writeByte(0)
      else { buf.writeVarInt(r.counts(i)); buf.writeByte(r.symbols(i) & 0xFF) }
      i += 1
    }
    buf.toArray
  }

  def deserialize(bytes: Array[Byte]): RleChunk = {
    val counts = new ArrayBuffer[Int]()
    val syms = new ArrayBuffer[Byte]()
    var sentinelRun = -1
    val rd = new Bytes.Reader(bytes)
    while (rd.remaining > 0) {
      val c = rd.readVarInt()
      if (c == 0) { sentinelRun = counts.length; counts += 1; syms += 0 }
      else { counts += c; syms += rd.readByte().toByte }
    }
    RleChunk(counts.toArray, syms.toArray, sentinelRun)
  }
}

/** Bit-exact model of the reference's RLE stream, used for golden tests and
  * for the ≤-reference size gate. Tokens: `Some(str)` = a count (ASCII
  * decimal) or a symbol (single char); `None` = the sentinel.
  *
  * Reproduced quirks (all from /root/reference/src/Data/RLE/Internal.hs):
  *  - a leading sentinel run is silently dropped (init at :109-115 plus the
  *    `isNothing item` branch :141-144);
  *  - when the stream ENDS with the sentinel, the final `iRLE Empty` case
  *    (:125-130) re-pushes the stale `(count, Nothing)` pair after the
  *    sentinel branch already emitted `("1", Nothing)` — the reference's own
  *    roundtrip breaks on such inputs (e.g. BWT of "ba"); the engine format
  *    fixes this by construction (documented divergence).
  */
object ReferenceRle {

  /** tokens of `seqToRLE` applied to the conceptual stream of `b`. */
  def tokens(b: Bwt): Vector[Option[String]] = {
    val total = b.conceptualLength
    if (total == 0) return Vector.empty
    val out = Vector.newBuilder[Option[String]]
    def symTok(s: Int): Option[String] =
      if (s < 0) None else Some((s.toChar).toString)
    var count = 1
    var item = b.symbolAt(0) // -1 = sentinel
    var i = 1
    while (i < total) {
      val y = b.symbolAt(i)
      if (y < 0) { // isNothing y
        out += Some(count.toString); out += symTok(item)
        out += Some("1"); out += None
        item = -1
      } else if (item < 0) { // isNothing item
        count = 1; item = y
      } else if (item == y) {
        count += 1
      } else {
        out += Some(count.toString); out += symTok(item)
        count = 1; item = y
      }
      i += 1
    }
    out += Some(count.toString); out += symTok(item)
    out.result()
  }

  /** Inverse of the reference's `seqFromRLE`
    * (/root/reference/src/Data/RLE/Internal.hs:155-189), quirks included,
    * so values stored in the reference's token format can be migrated:
    *  - tokens are consumed strictly pairwise (count, symbol);
    *  - a (Just count, Nothing) pair emits ONE sentinel — the count is
    *    ignored (:168-171,177-179);
    *  - a trailing odd token is silently dropped (:187, the `Single` case
    *    is `pure ()`);
    *  - a non-numeric count token fails (the reference's `read` crash,
    *    surfaced as a NumberFormatException here).
    * Returns the symbol stream: `None` = sentinel, `Some(code)` = char.
    *
    * `maxExpanded` is a decompression-bomb guard: a corrupt count token can
    * demand a multi-GB expansion from a few bytes of input, which must
    * throw promptly rather than OOM the executor. The output is a BOXED
    * Vector (~24-32 bytes per element), so the default bound is 4M
    * symbols (~100-130 MB) — far above any legitimate per-value stream;
    * callers migrating genuinely huge values pass a larger bound
    * explicitly.
    */
  def parse(tokens: Seq[Option[String]], maxExpanded: Int = 1 << 22): Vector[Option[Int]] = {
    val buf = tokens.toIndexedSeq
    val out = Vector.newBuilder[Option[Int]]
    var expanded = 0L
    var i = 0
    while (i + 1 < buf.length) {
      val y1 = buf(i)
      val y2 = buf(i + 1)
      if (y1.isDefined && y2.isEmpty) out += None
      else {
        val count = y1.getOrElse(
          throw new IllegalArgumentException("sentinel in count position")).toInt
        val sym = y2.get
        require(sym.length == 1, s"symbol token must be a single char: '$sym'")
        expanded += math.max(count, 0)
        require(expanded <= maxExpanded,
          s"RLE stream expands past $maxExpanded symbols — corrupt count or raise maxExpanded")
        var c = 0
        while (c < count) { out += Some(sym.charAt(0).toInt); c += 1 }
      }
      i += 2
    }
    out.result()
  }

  /** Reassemble a BWT from a decoded symbol stream (exactly one sentinel).
    * Streams from the reference's end-with-sentinel inputs carry the
    * duplicated sentinel (the reference's own roundtrip bug, see the
    * object doc) and are rejected here rather than guessed at.
    */
  def streamToBwt(stream: Vector[Option[Int]]): Bwt = {
    val sentinels = stream.count(_.isEmpty)
    require(sentinels == 1, s"stream must contain exactly one sentinel, got $sentinels")
    val data = new Array[Byte](stream.length - 1)
    var sentinelPos = -1
    var w = 0
    var i = 0
    while (i < stream.length) {
      stream(i) match {
        case None => sentinelPos = i
        case Some(c) => data(w) = c.toByte; w += 1
      }
      i += 1
    }
    Bwt(data, sentinelPos)
  }

  /** Canonical byte costing of the reference stream (SURVEY.md §2.3):
    * counts cost their ASCII length, symbols cost 1 byte (sentinel incl.).
    */
  def cost(b: Bwt): Long = {
    var bytes = 0L
    tokens(b).foreach {
      case Some(s) => bytes += s.length
      case None    => bytes += 1
    }
    bytes
  }
}
