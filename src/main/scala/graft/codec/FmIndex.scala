package graft.codec

/** FM-index over a byte text: C-table + occurrence ranks + suffix array,
  * supporting backward-search `count` and `locate`.
  *
  * Matches the reference's semantics (/root/reference/src/Data/FMIndex/):
  *  - C[c] = number of symbols (incl. the sentinel) smaller than c in
  *    text+sentinel (`seqToCc`, Internal.hs:275-316 — computed there by an
  *    O(sigma*n) scan of the F column; here by a byte histogram + prefix sum).
  *  - Occ(c,k) = occurrences of c among the first k BWT symbols (`seqToOccCK`,
  *    Internal.hs:195-259 — materialized there as a full sigma*n table; here
  *    checkpointed every 2^blockBits positions + an in-block scan, the
  *    succinct-rank layout the north star asks for).
  *  - SA kept whole in memory for `locate` (Internal.hs:169-170;
  *    CHANGELOG.md:104-106); serialization optionally samples it (every
  *    2^k-th text position + LF-walk recovery) for persisted index
  *    tables.
  *  - count/locate = classic backward search right-to-left
  *    (Internal.hs:347-542), returning None instead of Just 0 and 1-based,
  *    row-ordered (unsorted) positions for locate (FMIndex.hs:473-474,496).
  *
  * `compat = true` reproduces the reference's quirk of *skipping* pattern
  * characters absent from the alphabet, leaving the stale range
  * (Internal.hs:390-391,420-423): e.g. count("zx") == count("x") when 'z'
  * does not occur. Default is the fixed behavior (absent char -> no match).
  *
  * Serialized formats ([[serialize]], [[FmIndex.deserialize]]):
  *  - v1 (`k = 0`, reference parity): the raw BWT, alphabet, C table,
  *    symbol counts, Occ checkpoints and the full SA.
  *  - v2 (read only; written before v3): v1 with SA samples instead of
  *    the full SA.
  *  - v3 (`k > 0`, what [[graft.spark.IndexJob]] writes): the SA samples
  *    and the BWT coded as the text column codes it, about 0.56x the text
  *    on web pages. Nothing derived is stored: the alphabet, C table,
  *    symbol counts and checkpoints are rebuilt from the decoded BWT on
  *    load, as the reference derives them from its BWT.
  */
final class FmIndex private (
    val bwt: Bwt,
    val alphabet: Array[Byte], // distinct bytes present, sorted unsigned
    byteToDense: Array[Int], // 256 -> dense code or -1
    cTable: Array[Int], // size sigmaReal: # symbols < alphabet(d) (sentinel incl.)
    symCount: Array[Int], // size sigmaReal: total occurrences
    ckpt: Array[Int], // (numBlocks x sigmaReal) row-major Occ checkpoints
    blockBits: Int,
    val sa: Array[Int], // full SA (length n+1, sa(0) == n) — empty when sampled
    val sampleBits: Int, // 0 = full SA; k > 0 = SA values stored only where
    // sa(r) % 2^k == 0, positions recovered by <= 2^k LF steps
    sampleRows: Array[Int], // ascending rows carrying a sampled SA value
    sampleVals: Array[Int]
) extends Serializable {

  val n: Int = bwt.data.length
  private val total = n + 1 // conceptual rows incl. sentinel
  private def sigmaReal = alphabet.length

  /** Occ(dense code d, k): occurrences of alphabet(d) in BWT[0..k-1]. */
  def occ(d: Int, k: Int): Int = {
    val block = k >> blockBits
    var cnt = ckpt(block * sigmaReal + d)
    var i = block << blockBits
    val target = alphabet(d) & 0xFF
    while (i < k) {
      if (i != bwt.sentinelPos && bwt.symbolAt(i) == target) cnt += 1
      i += 1
    }
    cnt
  }

  /** Backward search; returns the 0-based row range [sp, ep) or None. */
  def searchRange(pattern: Array[Byte], compat: Boolean = false): Option[(Int, Int)] = {
    if (pattern.isEmpty || total == 0) return None
    var sp = 0
    var ep = total
    var started = false
    var i = pattern.length - 1
    while (i >= 0) {
      val d = byteToDense(pattern(i) & 0xFF)
      if (d < 0) {
        if (!compat) return None
        // reference skips the char entirely (stale range, counter unchanged)
      } else {
        if (!started) {
          sp = cTable(d)
          ep = cTable(d) + symCount(d)
          started = true
        } else {
          sp = cTable(d) + occ(d, sp)
          ep = cTable(d) + occ(d, ep)
        }
        if (sp >= ep) return None
      }
      i -= 1
    }
    if (!started) None else Some((sp, ep))
  }

  /** Number of occurrences; None when the pattern does not occur (the
    * reference returns Nothing rather than Just 0, Internal.hs:366-372).
    */
  def count(pattern: Array[Byte], compat: Boolean = false): Option[Int] =
    searchRange(pattern, compat).map { case (sp, ep) => ep - sp }

  /** One LF step: the row of the suffix starting one position earlier.
    * Only defined for r != sentinel row (whose SA value is 0 by identity).
    */
  private def lfStep(r: Int): Int = {
    val d = byteToDense(bwt.symbolAt(r))
    cTable(d) + occ(d, r)
  }

  /** SA value of row r — direct lookup with a full SA, else an LF-walk of
    * <= 2^sampleBits steps to the nearest sampled text position (the
    * classic sampled-SA locate; walk cost trades against the ~2-5x-of-text
    * serialized size a full SA costs at corpus scale).
    */
  private def saAt(r0: Int): Int = {
    if (sampleBits == 0) return sa(r0)
    var r = r0
    var steps = 0
    while (r != bwt.sentinelPos) {
      val j = java.util.Arrays.binarySearch(sampleRows, r)
      if (j >= 0) return sampleVals(j) + steps
      r = lfStep(r)
      steps += 1
      // a consistent index reaches a sample or the sentinel within n steps;
      // a corrupt one can make LF cycle — throw instead of hanging the task
      if (steps > total)
        throw new IllegalArgumentException("corrupt FM-index: LF walk did not terminate")
    }
    steps // the sentinel row's SA value is 0
  }

  /** 1-based start positions in row order (unsorted), like the reference's
    * `locateFMIndex` + suffixstartpos mapping (FMIndex.hs:496,562).
    */
  def locate(pattern: Array[Byte], compat: Boolean = false): Array[Int] =
    searchRange(pattern, compat) match {
      case None => Array.emptyIntArray
      case Some((sp, ep)) =>
        val out = new Array[Int](ep - sp)
        var r = sp
        while (r < ep) { out(r - sp) = saAt(r) + 1; r += 1 }
        out
    }

  /** C value for a raw byte (for tests against the worked example). */
  def cOf(b: Byte): Int = {
    val d = byteToDense(b & 0xFF)
    require(d >= 0, s"byte $b not in alphabet")
    cTable(d)
  }

  /** Compact self-describing serialization — lets an index table be built
    * once and searched many times (the reference gained the same ability
    * when it embedded the SA in the index, CHANGELOG.md:104-106).
    *
    * `saSampleBits = 0` writes format v1: the raw BWT, the alphabet, the C
    * table, the Occ checkpoints and the full SA — exact parity with the
    * reference's since-v0.1.0.25 behavior but ~2-5x the text size on disk.
    *
    * `saSampleBits = k > 0` writes format v3, a compressed-BWT index after
    * Ferragina and Manzini (FOCS 2000): the SA values divisible by 2^k
    * (~1/2^k of the rows; locate recovers the rest by LF-walking) and the
    * BWT coded as the text column codes it ([[Pipelines.bwtBody]]). The
    * alphabet, C table and checkpoints are rebuilt from the BWT on load,
    * as the reference derives them (`seqToCc`/`seqToOccCK`). Layout:
    * `3, varint n, k, varint m, m x (varint rowDelta, varint sa(row) >> k),
    * body`, the body running to the end of the payload: tag 0, 1 or 3 as
    * [[Pipelines.textEncode]] writes them over this BWT (byte for byte its
    * body whenever it picks one of them), or tag 2, the raw BWT form
    * `varint(sentinelPos + 1), BWT bytes`, where nothing is shorter.
    */
  def serialize(saSampleBits: Int = 0): Array[Byte] = {
    require(saSampleBits >= 0 && saSampleBits < 31, s"bad saSampleBits=$saSampleBits")
    require(sampleBits == 0, "cannot re-serialize an already-sampled index at a different rate")
    if (saSampleBits == 0) serializeFullSa() else serializeCompressed(saSampleBits)
  }

  private def serializeFullSa(): Array[Byte] = {
    val buf = new Bytes.Buf(n * 5 + 64)
    buf.writeByte(1) // format version
    buf.writeVarInt(n)
    buf.writeVarInt(bwt.sentinelPos + 1)
    buf.writeBytes(bwt.data)
    buf.writeVarInt(alphabet.length)
    buf.writeBytes(alphabet)
    var i = 0
    while (i < alphabet.length) { buf.writeVarInt(cTable(i)); buf.writeVarInt(symCount(i)); i += 1 }
    buf.writeByte(blockBits)
    buf.writeVarInt(ckpt.length)
    i = 0
    while (i < ckpt.length) { buf.writeVarInt(ckpt(i)); i += 1 }
    i = 0
    while (i <= n) { buf.writeVarInt(sa(i)); i += 1 }
    buf.toArray
  }

  private def serializeCompressed(k: Int): Array[Byte] = {
    val raw = new Bytes.Buf(n + 6) // the raw BWT form, body tag 2's candidate
    raw.writeVarInt(bwt.sentinelPos + 1)
    raw.writeBytes(bwt.data)
    val body = Pipelines.bwtBody(bwt, raw.toArray)
    val mask = (1 << k) - 1
    var m = 0
    var i = 1 // row 0 is the empty suffix (sa = n), never a locate target
    while (i <= n) { if ((sa(i) & mask) == 0) m += 1; i += 1 }
    val buf = new Bytes.Buf(body.length + m * 4 + 16)
    buf.writeByte(3) // format version
    buf.writeVarInt(n)
    buf.writeByte(k)
    buf.writeVarInt(m)
    var prevRow = 0
    i = 1
    while (i <= n) {
      if ((sa(i) & mask) == 0) {
        buf.writeVarInt(i - prevRow) // ascending-row delta
        buf.writeVarInt(sa(i) >> k)
        prevRow = i
      }
      i += 1
    }
    buf.writeBytes(body)
    buf.toArray
  }
}

object FmIndex {

  /** Occ checkpoint spacing, 2^8 positions: [[build]]'s default and what
    * the v3 reader rebuilds (v1 and v2 store their own).
    */
  private final val DefaultBlockBits = 8

  /** Build from the original text. The reference builds the BWT matrix and
    * reconstructs the text from its own BWT to get the SA
    * (FMIndex.hs:143-147,169-173); we build SA once and derive everything
    * from it.
    */
  def build(text: Array[Byte], blockBits: Int = DefaultBlockBits): FmIndex = {
    val sa = SuffixArrays.build(text)
    withTables(BwtCodec.fromSuffixArray(text, sa), blockBits, sa, 0,
      Array.emptyIntArray, Array.emptyIntArray)
  }

  /** The index over `bwt` with its alphabet, C table, symbol counts and Occ
    * checkpoints (every 2^blockBits positions) computed from the BWT: one
    * histogram pass, then one pass of running counts. [[build]] and the v3
    * reader both get their tables here.
    */
  private def withTables(bwt: Bwt, blockBits: Int, sa: Array[Int], sampleBits: Int,
      sampleRows: Array[Int], sampleVals: Array[Int]): FmIndex = {
    val data = bwt.data
    val n = data.length
    val byteCnt = new Array[Int](256)
    var i = 0
    while (i < n) { byteCnt(data(i) & 0xFF) += 1; i += 1 }
    var sigmaReal = 0
    i = 0
    while (i < 256) { if (byteCnt(i) > 0) sigmaReal += 1; i += 1 }
    val alphabet = new Array[Byte](sigmaReal)
    val byteToDense = Array.fill(256)(-1)
    val cTable = new Array[Int](sigmaReal)
    val symCount = new Array[Int](sigmaReal)
    var acc = 1 // sentinel counts as the single smallest symbol
    var d = 0
    i = 0
    while (i < 256) {
      if (byteCnt(i) > 0) {
        alphabet(d) = i.toByte
        byteToDense(i) = d
        cTable(d) = acc
        symCount(d) = byteCnt(i)
        acc += byteCnt(i)
        d += 1
      }
      i += 1
    }

    // Occ checkpoint b = the counts of conceptual positions below
    // b << blockBits, for every b up to (n+1) >> blockBits, so occ(d, n+1)
    // has one even when n+1 is a multiple of the block size. An empty text
    // (n == 0) keeps the reference's empty BWT (no symbols, sentinelPos
    // -1), so no position is counted: its index has an empty alphabet and
    // count/locate are None for every pattern
    val sent = bwt.sentinelPos
    val numBlocks = ((n + 1) >> blockBits) + 1
    val ckpt = new Array[Int](numBlocks * math.max(sigmaReal, 1))
    val running = new Array[Int](math.max(sigmaReal, 1))
    var p = 0 // conceptual position; data(p) before the sentinel, data(p - 1) after
    var b = 0
    while (b < numBlocks) {
      System.arraycopy(running, 0, ckpt, b * sigmaReal, sigmaReal)
      val end = math.min((b + 1).toLong << blockBits, bwt.conceptualLength.toLong).toInt
      while (p < end) {
        if (p < sent) running(byteToDense(data(p) & 0xFF)) += 1
        else if (p > sent) running(byteToDense(data(p - 1) & 0xFF)) += 1
        p += 1
      }
      b += 1
    }

    new FmIndex(bwt, alphabet, byteToDense, cTable, symCount, ckpt, blockBits,
      sa, sampleBits, sampleRows, sampleVals)
  }

  /** Strict deserialization: every length/structure field is validated
    * before it drives an allocation or a loop, so a corrupt stored index
    * row (inevitable somewhere in a 10^12-row table) throws promptly
    * instead of hanging, OOMing, or silently zero-padding (see
    * FuzzDecodeSpec).
    */
  def deserialize(payload: Array[Byte]): FmIndex = {
    val rd = new Bytes.Reader(payload)
    val version = rd.readByte()
    require(version >= 1 && version <= 3, s"unknown fm-index format version $version")
    if (version == 3) return deserializeCompressed(payload, rd)
    val n = rd.readVarSize()
    val sentinelPos = rd.readVarInt() - 1
    require(sentinelPos >= -1 && sentinelPos <= n, s"corrupt fm-index: sentinel $sentinelPos of $n")
    require((sentinelPos == -1) == (n == 0), s"corrupt fm-index: sentinel $sentinelPos of $n")
    val data = rd.readBytes(n)
    val alphaLen = rd.readVarSize()
    require(alphaLen <= 256, s"corrupt fm-index: alphabet size $alphaLen")
    val alphabet = rd.readBytes(alphaLen)
    val cTable = new Array[Int](alphaLen)
    val symCount = new Array[Int](alphaLen)
    var i = 0
    while (i < alphaLen) { cTable(i) = rd.readVarInt(); symCount(i) = rd.readVarInt(); i += 1 }
    val blockBits = rd.readByte()
    require(blockBits >= 0 && blockBits <= 30, s"corrupt fm-index: blockBits $blockBits")
    val ckptLen = rd.readVarSize()
    // must match the build layout exactly: ((n+1) >> blockBits + 1) blocks
    // of max(sigma, 1) running counts — anything else makes occ() unsafe
    require(ckptLen == (((n + 1) >> blockBits) + 1) * math.max(alphaLen, 1),
      s"corrupt fm-index: checkpoint table length $ckptLen for n=$n sigma=$alphaLen")
    val ckpt = new Array[Int](ckptLen)
    i = 0
    while (i < ckpt.length) { ckpt(i) = rd.readVarInt(); i += 1 }
    val byteToDense = Array.fill(256)(-1)
    i = 0
    while (i < alphaLen) { byteToDense(alphabet(i) & 0xFF) = i; i += 1 }
    if (version == 1) {
      require(rd.remaining.toLong >= n.toLong + 1, // n+1 varints of >= 1 byte each
        s"corrupt fm-index: truncated SA (${rd.remaining} bytes for ${n + 1} entries)")
      val sa = new Array[Int](n + 1)
      i = 0
      while (i <= n) {
        sa(i) = rd.readVarInt()
        require(sa(i) >= 0 && sa(i) <= n, s"corrupt fm-index: SA value ${sa(i)} of $n")
        i += 1
      }
      new FmIndex(Bwt(data, sentinelPos), alphabet, byteToDense, cTable, symCount,
        ckpt, blockBits, sa, 0, Array.emptyIntArray, Array.emptyIntArray)
    } else { // v2, written before v3 replaced it: v1's tables and SA samples
      val saSampleBits = rd.readByte()
      require(saSampleBits > 0 && saSampleBits < 31, s"corrupt fm-index: sampleBits $saSampleBits")
      val (rows, vals) = readSamples(rd, n, 0)
      new FmIndex(Bwt(data, sentinelPos), alphabet, byteToDense, cTable, symCount,
        ckpt, blockBits, Array.emptyIntArray, saSampleBits, rows, vals)
    }
  }

  /** Format v3 after its version byte (layout at [[FmIndex.serialize]]). */
  private def deserializeCompressed(payload: Array[Byte], rd: Bytes.Reader): FmIndex = {
    // the body is compressed, so n has no bound in the payload's size; it
    // bounds every allocation the body's decode makes
    val len = rd.readVarLong()
    require(len >= 0 && len <= ColumnCodec.MaxDecodedValueBytes, s"corrupt fm-index: text length $len")
    val n = len.toInt
    val k = rd.readByte()
    require(k > 0 && k < 31, s"corrupt fm-index: sampleBits $k")
    val (rows, vals) = readSamples(rd, n, k)
    withTables(bodyBwt(payload, rd.pos, n), DefaultBlockBits, Array.emptyIntArray, k, rows, vals)
  }

  /** v2's and v3's SA samples: `varint m`, then `m x (varint rowDelta,
    * varint sa(row) >> shift)` (v2 stores the values unshifted), rows
    * ascending in [1, n] and SA values at most n.
    */
  private def readSamples(rd: Bytes.Reader, n: Int, shift: Int): (Array[Int], Array[Int]) = {
    val m = rd.readVarSize(bytesPerElement = 2) // each sample is >= 2 bytes
    val rows = new Array[Int](m)
    val vals = new Array[Int](m)
    var row = 0L
    var i = 0
    while (i < m) {
      val delta = rd.readVarLong()
      require(delta > 0, "corrupt fm-index: non-ascending sample rows")
      row += delta
      require(row <= n, s"corrupt fm-index: sample row $row of $n")
      val v = rd.readVarLong()
      require(v >= 0 && v <= (n >> shift), s"corrupt fm-index: sample SA value $v << $shift of $n")
      rows(i) = row.toInt
      vals(i) = (v << shift).toInt
      i += 1
    }
    (rows, vals)
  }

  /** The BWT a v3 body (`payload` from `from` on) holds for a text of `n`
    * bytes; a body that is cut, holds another length or places the
    * sentinel outside the BWT throws.
    */
  private def bodyBwt(payload: Array[Byte], from: Int, n: Int): Bwt = {
    require(from < payload.length, "corrupt fm-index: no bwt body")
    val tag = payload(from) & 0xFF
    val bwt =
      try {
        if (tag == 2) { // the raw form
          val rd = new Bytes.Reader(payload, from + 1)
          val sentinelPos = rd.readVarInt() - 1
          val data = rd.readBytes(n)
          require(rd.remaining == 0, s"${rd.remaining} bytes after the raw bwt")
          Bwt(data, sentinelPos)
        } else Pipelines.bwtOfBody(tag, java.util.Arrays.copyOfRange(payload, from + 1, payload.length), n)
      } catch {
        case e @ (_: IndexOutOfBoundsException | _: IllegalArgumentException) =>
          throw new IllegalArgumentException(s"corrupt fm-index: bwt body (tag $tag): ${e.getMessage}", e)
      }
    require(bwt.data.length == n, s"corrupt fm-index: bwt body of ${bwt.data.length} bytes for n=$n")
    require(if (n == 0) bwt.sentinelPos == -1 else bwt.sentinelPos >= 0 && bwt.sentinelPos <= n,
      s"corrupt fm-index: sentinel ${bwt.sentinelPos} of $n")
    bwt
  }
}
