package graft.codec

/** Burrows-Wheeler transform of a byte string.
  *
  * The conceptual value is the reference's `BWT a` = the length-(n+1)
  * sequence of symbols with exactly one end-of-string sentinel
  * (/root/reference/src/Data/BWT/Internal.hs:83-84, the sentinel is the
  * `Nothing`). We store it densely: `data` holds the n real bytes in BWT
  * order and `sentinelPos` is the conceptual index of the sentinel in
  * [0, n]. Empty input maps to the reference's `BWT Empty`
  * (/root/reference/src/Data/BWT.hs:58): `data` empty, `sentinelPos == -1`.
  */
final case class Bwt(data: Array[Byte], sentinelPos: Int) {
  def conceptualLength: Int = if (sentinelPos < 0) 0 else data.length + 1

  /** Byte of the conceptual stream at index i, or -1 for the sentinel. */
  def symbolAt(i: Int): Int =
    if (i == sentinelPos) -1
    else if (i < sentinelPos) data(i) & 0xFF
    else data(i - 1) & 0xFF

  override def equals(o: Any): Boolean = o match {
    case b: Bwt => sentinelPos == b.sentinelPos && java.util.Arrays.equals(data, b.data)
    case _      => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(data) * 31 + sentinelPos
}

/** Encode = `toBWT` (/root/reference/src/Data/BWT.hs:55-64): suffix array,
  * then for each suffix in rank order emit the preceding symbol, sentinel
  * when the suffix starts at position 0 (`saToBWT`, BWT/Internal.hs:98-106).
  *
  * Decode replaces the reference's sort + pointer walk (`fromBWT`,
  * BWT.hs:93-104 and `magicInverseBWT`, BWT/Internal.hs:163-200) with the
  * O(n) counting-sort LF-mapping — identical output, no comparison sort.
  */
object BwtCodec {

  def encode(t: Array[Byte]): Bwt = fromSuffixArray(t, SuffixArrays.build(t))

  /** The BWT of `t` read off its suffix array `sa` (n+1 entries, the
    * sentinel suffix included, as [[SuffixArrays.build]] returns it).
    * Shared by [[encode]] and [[FmIndex.build]], which keeps the SA.
    */
  def fromSuffixArray(t: Array[Byte], sa: Array[Int]): Bwt = {
    val n = t.length
    val out = new Array[Byte](n)
    var sentinel = -1
    var w = 0
    var i = 0
    while (i <= n) {
      val p = sa(i)
      if (p == 0) sentinel = i
      else { out(w) = t(p - 1); w += 1 }
      i += 1
    }
    Bwt(out, if (n == 0) -1 else sentinel)
  }

  def decode(b: Bwt): Array[Byte] = {
    val n = b.data.length
    if (b.sentinelPos < 0) return Array.emptyByteArray
    if (n == 0) return Array.emptyByteArray
    val m = n + 1
    val sp = b.sentinelPos

    // Materialize the L column as alphabet codes (0 = sentinel, byte v ->
    // v+1) ONCE: the old per-access `symbolAt` cost two compares per read,
    // and the LF build + walk read L 2n times — the branchy form measured
    // 115 MB/s, this one ~2x (BENCH/BASELINE.md round-3 log).
    val codes = new Array[Short](m)
    var i = 0
    while (i < sp) { codes(i) = ((b.data(i) & 0xFF) + 1).toShort; i += 1 }
    // codes(sp) = 0 (sentinel) — array default
    i = sp + 1
    while (i < m) { codes(i) = ((b.data(i - 1) & 0xFF) + 1).toShort; i += 1 }

    val counts = new Array[Int](258)
    i = 0
    while (i < m) { counts(codes(i)) += 1; i += 1 }
    val starts = new Array[Int](258)
    var sum = 0
    var c = 0
    while (c < 258) { starts(c) = sum; sum += counts(c); c += 1 }

    // LF(i) = C[L(i)] + rank(L(i), i): stable counting pass over codes
    // (starts doubles as the running next-slot cursor)
    val lf = new Array[Int](m)
    i = 0
    while (i < m) {
      val code = codes(i)
      lf(i) = starts(code)
      starts(code) += 1
      i += 1
    }

    // Row 0 of the sorted rotations starts with the sentinel; its last
    // column entry L(0) is the final byte of the text. Following LF emits
    // the text right-to-left. The walk never lands on the sentinel row of
    // the L column (that row corresponds to suffix position 0, which would
    // be step n), so codes(p) - 1 is always a real byte.
    val out = new Array[Byte](n)
    var p = 0
    var w = n - 1
    while (w >= 0) {
      out(w) = (codes(p) - 1).toByte
      p = lf(p)
      w -= 1
    }
    out
  }
}
