package graft.codec

/** Suffix-array construction.
  *
  * Semantics mirror the reference's `createSuffixArray`
  * (/root/reference/src/Data/BWT/Internal.hs:110-134): all n+1 suffixes of
  * the input *including the empty suffix*, sorted lexicographically with the
  * empty suffix (= end-of-string sentinel, smaller than every symbol) ranked
  * first. The reference materializes every suffix and comparison-sorts them
  * (O(n^2 log n) worst case); we produce the identical ordering with SA-IS
  * (Nong, Zhang & Chan 2009 — linear time, byte alphabet), cross-checked in
  * tests against a naive sort.
  *
  * Returned array is 0-based: `sa(r)` = start position of the suffix with
  * rank r; `sa(0) == n` is always the empty/sentinel suffix. Length n+1.
  *
  * Implementation notes: hot loops are flat (no nested closures capturing
  * mutable state) so C2 can keep everything in registers; the symbol code
  * and the S/L type flag are PACKED into one value per position
  * (`sp(i) = code << 1 | isS`), so the induce and naming loops touch ONE
  * array per random access instead of two (symbol + type) — the measured
  * hot-loop cost is those random reads (BENCH/BASELINE.md round-3 SA
  * phase maps).
  */
object SuffixArrays {

  /** SA of `t` plus virtual sentinel (smaller than all bytes) at position n. */
  def build(t: Array[Byte]): Array[Int] = saisBytes(t)

  /** Level-0 SA-IS specialized to byte input (packed codes fit a Short —
    * quarter the memory traffic of an int string). Recursion levels use
    * the generic int implementation.
    */
  def saisBytes(t: Array[Byte]): Array[Int] = {
    val tn = t.length
    val n = tn + 1 // incl. sentinel
    val k = 257
    val sa = new Array[Int](n)
    if (n == 1) { sa(0) = 0; return sa }
    if (n == 2) { sa(0) = 1; sa(1) = 0; return sa }

    // fused backward pass: packed (code, type) + histogram + LMS positions
    // (stashed reversed in sa's tail — sa is not otherwise used before
    // induceB fills it; saves two extra linear scans)
    val sp = new Array[Short](n) // (code << 1) | isS
    val bktSize = new Array[Int](k)
    sp(n - 1) = 1 // sentinel: code 0, S-type
    bktSize(0) = 1
    var m = 0
    var i = n - 2
    var sj = 0 // code at i+1 (sentinel = 0)
    var sjS = true // type at i+1
    while (i >= 0) {
      val si = (t(i) & 0xFF) + 1
      bktSize(si) += 1
      val s = si < sj || (si == sj && sjS)
      sp(i) = ((si << 1) | (if (s) 1 else 0)).toShort
      if (!s && sjS) { m += 1; sa(n - m) = i + 1 } // i+1 is LMS
      sj = si
      sjS = s
      i -= 1
    }
    val bkt = new Array[Int](k)
    val lmsPos = new Array[Int](m)
    i = 0
    while (i < m) { lmsPos(i) = sa(n - m + i); i += 1 } // back to text order

    // bucket boundaries computed once; induce passes arraycopy them
    val bktStart = new Array[Int](k)
    val bktEnd = new Array[Int](k)
    var sum0 = 0
    var c0 = 0
    while (c0 < k) { bktStart(c0) = sum0; sum0 += bktSize(c0); bktEnd(c0) = sum0; c0 += 1 }

    def induceB(lms: Array[Int], mm: Int): Unit = {
      java.util.Arrays.fill(sa, -1)
      System.arraycopy(bktEnd, 0, bkt, 0, k)
      var j = mm - 1
      while (j >= 0) {
        val p = lms(j)
        val ch = sp(p) >> 1
        bkt(ch) -= 1
        sa(bkt(ch)) = p
        j -= 1
      }
      System.arraycopy(bktStart, 0, bkt, 0, k)
      var q = 0
      while (q < n) {
        val p = sa(q)
        if (p > 0) {
          val c = sp(p - 1)
          if ((c & 1) == 0) { // L-type predecessor
            sa(bkt(c >> 1)) = p - 1
            bkt(c >> 1) += 1
          }
        }
        q += 1
      }
      System.arraycopy(bktEnd, 0, bkt, 0, k)
      q = n - 1
      while (q >= 0) {
        val p = sa(q)
        if (p > 0) {
          val c = sp(p - 1)
          if ((c & 1) == 1) { // S-type predecessor
            bkt(c >> 1) -= 1
            sa(bkt(c >> 1)) = p - 1
          }
        }
        q -= 1
      }
    }

    if (m == 0) { induceB(lmsPos, 0); return sa }
    induceB(lmsPos, m)

    // extract LMS suffixes in current (LMS-substring-sorted) order:
    // LMS(p) <=> p > 0 && isS(p) && !isS(p-1) <=> sp(p) odd && sp(p-1) even
    val sortedLms = new Array[Int](m)
    var w = 0
    i = 0
    while (i < n) {
      val p = sa(i)
      if (p > 0 && (sp(p) & 1) == 1 && (sp(p - 1) & 1) == 0) { sortedLms(w) = p; w += 1 }
      i += 1
    }

    // LMS-substring length by start position (to the NEXT LMS, inclusive).
    // lmsPos is ascending text order and the sentinel n-1 is always the
    // last LMS (nothing sorts below code 0), so lengths come from adjacent
    // LMS positions — naming then compares length first and runs a tight
    // two-load loop, no per-step LMS-boundary detection.
    val lenByPos = new Array[Int](n)
    i = 0
    while (i < m - 1) { lenByPos(lmsPos(i)) = lmsPos(i + 1) - lmsPos(i) + 1; i += 1 }
    lenByPos(n - 1) = 1

    val name = new Array[Int](n)
    var curName = 0
    name(sortedLms(0)) = 0
    var prev = sortedLms(0)
    var j = 1
    while (j < m) {
      val cur = sortedLms(j)
      // equal iff same length and same packed (symbol, type) codes; the
      // packed codes make type mismatches plain value mismatches
      var eq = false
      val lc = lenByPos(cur)
      if (lenByPos(prev) == lc) {
        var x = 0
        while (x < lc && sp(prev + x) == sp(cur + x)) x += 1
        eq = x == lc
      }
      if (!eq) curName += 1
      name(cur) = curName
      prev = cur
      j += 1
    }
    val numNames = curName + 1

    val orderedLms =
      if (numNames == m) sortedLms
      else {
        // lmsPos is already the LMS positions in ascending text order —
        // gather names from it directly instead of re-scanning all of sp
        val sa1 = recurseOnNames(name, lmsPos, m, numNames)
        val out = new Array[Int](m)
        j = 0
        while (j < m) { out(j) = lmsPos(sa1(j)); j += 1 }
        out
      }

    induceB(orderedLms, m)
    sa
  }

  /** SA of the reduced string of LMS-substring names. Web-text reduced
    * strings almost always have a tiny alphabet (measured avg 47 names
    * from ~1.5k LMS at level 1, BENCH/BASELINE.md §Round-3 continued:
    * recursion-structure probe and byte-level downcast), so when every
    * name fits a byte the recursion runs through the Short-packed byte
    * level instead of the generic int path (~1.9x per-element cost).
    * Correctness of the downcast: `saisBytes` appends its own sentinel,
    * strictly smaller than every byte code; the reduced string's trailing
    * 0-name is already the unique smallest of s1, so every pair of s1
    * suffixes is ordered strictly within s1 and appending the extra
    * sentinel changes nothing — SA(s1) = saisBytes(s1 as bytes) minus its
    * leading sentinel entry. (Cross-checked against the generic path by
    * naive-sort tests and graft.tools.DeepSweep; the A/B that measured
    * it is in the same BENCH/BASELINE.md section.)
    */
  private def recurseOnNames(
      name: Array[Int],
      lmsPos: Array[Int],
      m: Int,
      numNames: Int
  ): Array[Int] = {
    if (numNames <= 256) {
      val b = new Array[Byte](m)
      var w = 0
      while (w < m) { b(w) = name(lmsPos(w)).toByte; w += 1 }
      java.util.Arrays.copyOfRange(saisBytes(b), 1, m + 1)
    } else {
      val s1 = new Array[Int](m)
      var w = 0
      while (w < m) { s1(w) = name(lmsPos(w)); w += 1 }
      sais(s1, numNames)
    }
  }

  /** Generic path retained for cross-checks and non-byte alphabets. */
  def buildGeneric(t: Array[Byte]): Array[Int] = {
    val n = t.length
    val s = new Array[Int](n + 1)
    var i = 0
    while (i < n) { s(i) = (t(i) & 0xFF) + 1; i += 1 }
    s(n) = 0 // unique smallest sentinel
    sais(s, 257)
  }

  /** Naive O(n^2 log n) construction for cross-checking in tests. */
  def buildNaive(t: Array[Byte]): Array[Int] = {
    val n = t.length
    val idx = Array.range(0, n + 1)
    val boxed = idx.map(Integer.valueOf)
    java.util.Arrays.sort(
      boxed,
      new java.util.Comparator[Integer] {
        def compare(a: Integer, b: Integer): Int = compareSuffix(t, a, b)
      }
    )
    boxed.map(_.intValue())
  }

  private def compareSuffix(t: Array[Byte], a: Int, b: Int): Int = {
    var i = a
    var j = b
    val n = t.length
    while (i < n && j < n) {
      val d = (t(i) & 0xFF) - (t(j) & 0xFF)
      if (d != 0) return d
      i += 1; j += 1
    }
    // shorter suffix (reaches sentinel first) sorts first
    (n - i) - (n - j)
  }

  /** Core SA-IS over an int string whose last element is the unique smallest
    * symbol (0). Values in [0, k), k < 2^30 (packed codes carry the type
    * flag in bit 0). Returns the full suffix array.
    */
  def sais(s: Array[Int], k: Int): Array[Int] = {
    val n = s.length
    require(k <= (1 << 30), s"alphabet too large for packed codes: $k")
    val sa = new Array[Int](n)
    if (n == 0) return sa
    if (n == 1) { sa(0) = 0; return sa }
    if (n == 2) { sa(0) = 1; sa(1) = 0; return sa } // s(1)==0 is sentinel

    // fused backward pass: packed (code, type) + histogram + LMS positions
    // (stashed reversed in sa's tail, exactly as in the byte level)
    val sp = new Array[Int](n) // (code << 1) | isS
    val bktSize = new Array[Int](k)
    sp(n - 1) = (s(n - 1) << 1) | 1
    bktSize(s(n - 1)) += 1
    var m = 0
    var i = n - 2
    var sj = s(n - 1)
    var sjS = true
    while (i >= 0) {
      val si = s(i)
      bktSize(si) += 1
      val st = si < sj || (si == sj && sjS)
      sp(i) = (si << 1) | (if (st) 1 else 0)
      if (!st && sjS) { m += 1; sa(n - m) = i + 1 }
      sj = si
      sjS = st
      i -= 1
    }
    val bkt = new Array[Int](k)
    val lmsPos = new Array[Int](m)
    i = 0
    while (i < m) { lmsPos(i) = sa(n - m + i); i += 1 }

    // bucket boundaries computed once; induce passes arraycopy them
    val bktStart = new Array[Int](k)
    val bktEnd = new Array[Int](k)
    var sum0 = 0
    var c0 = 0
    while (c0 < k) { bktStart(c0) = sum0; sum0 += bktSize(c0); bktEnd(c0) = sum0; c0 += 1 }

    if (m == 0) { induce(sp, sa, bktStart, bktEnd, bkt, lmsPos, 0, k, n); return sa }

    induce(sp, sa, bktStart, bktEnd, bkt, lmsPos, m, k, n)

    // extract LMS suffixes in current (LMS-substring-sorted) order
    val sortedLms = new Array[Int](m)
    var w = 0
    i = 0
    while (i < n) {
      val p = sa(i)
      if (p > 0 && (sp(p) & 1) == 1 && (sp(p - 1) & 1) == 0) { sortedLms(w) = p; w += 1 }
      i += 1
    }

    // name LMS substrings — same length-first comparison as the byte level
    val lenByPos = new Array[Int](n)
    i = 0
    while (i < m - 1) { lenByPos(lmsPos(i)) = lmsPos(i + 1) - lmsPos(i) + 1; i += 1 }
    lenByPos(n - 1) = 1

    val name = new Array[Int](n) // name by start position (sparse)
    var curName = 0
    name(sortedLms(0)) = 0
    var prev = sortedLms(0)
    var j = 1
    while (j < m) {
      val cur = sortedLms(j)
      var eq = false
      val lc = lenByPos(cur)
      if (lenByPos(prev) == lc) {
        var x = 0
        while (x < lc && sp(prev + x) == sp(cur + x)) x += 1
        eq = x == lc
      }
      if (!eq) curName += 1
      name(cur) = curName
      prev = cur
      j += 1
    }
    val numNames = curName + 1

    val orderedLms =
      if (numNames == m) {
        sortedLms
      } else {
        // recurse on the reduced string of LMS-substring names (byte-level
        // downcast when the name alphabet fits — see recurseOnNames)
        val sa1 = recurseOnNames(name, lmsPos, m, numNames)
        val out = new Array[Int](m)
        j = 0
        while (j < m) { out(j) = lmsPos(sa1(j)); j += 1 }
        out
      }

    induce(sp, sa, bktStart, bktEnd, bkt, orderedLms, m, k, n)
    sa
  }

  /** Seed SA with the given LMS positions (inserted from bucket ends
    * backwards), then induce L-type then S-type suffixes. `sp` carries
    * (code << 1 | type), so each hot-loop step is ONE random read.
    */
  private def induce(
      sp: Array[Int],
      sa: Array[Int],
      bktStart: Array[Int],
      bktEnd: Array[Int],
      bkt: Array[Int],
      lms: Array[Int],
      m: Int,
      k: Int,
      n: Int
  ): Unit = {
    java.util.Arrays.fill(sa, -1)

    // bucket ends
    System.arraycopy(bktEnd, 0, bkt, 0, k)
    var j = m - 1
    while (j >= 0) {
      val p = lms(j)
      val ch = sp(p) >> 1
      bkt(ch) -= 1
      sa(bkt(ch)) = p
      j -= 1
    }

    // bucket starts; induce L
    System.arraycopy(bktStart, 0, bkt, 0, k)
    var q = 0
    while (q < n) {
      val p = sa(q)
      if (p > 0) {
        val c = sp(p - 1)
        if ((c & 1) == 0) {
          sa(bkt(c >> 1)) = p - 1
          bkt(c >> 1) += 1
        }
      }
      q += 1
    }

    // bucket ends; induce S
    System.arraycopy(bktEnd, 0, bkt, 0, k)
    q = n - 1
    while (q >= 0) {
      val p = sa(q)
      if (p > 0) {
        val c = sp(p - 1)
        if ((c & 1) == 1) {
          bkt(c >> 1) -= 1
          sa(bkt(c >> 1)) = p - 1
        }
      }
      q -= 1
    }
  }

}
