package graft.codec

/** Golden fixtures transcribed mechanically from the reference test suite
  * (/root/reference/src/Data/RLE.hs:279-320, /root/reference/src/Data/MTF.hs:287-299).
  * Test DATA only — pins bit-identical behavior.
  */
object FixtureData {
  val s1 = "aaaabbbbcccc"
  val rle1: Vector[Option[String]] = Vector(Some("1"),Some("c"),Some("1"),None,Some("4"),Some("a"),Some("3"),Some("b"),Some("3"),Some("c"),Some("1"),Some("b"))
  val s2 = "editor-mount-z0Uz0Uz0Uz0Uz0Uz0Uz0Uz5Uz0Uz0Uz0Uz2Uz3Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz1Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz1Uz0Uz0Uz0Uz2Uz1Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz1cUz0Uz0Uz0Uz1Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uznz0e9Uz7dUz20Uz0ffUz11Uz40Uz0a3Uz9aUz0bfU3z0f5Uz12Uz0a8Uzhz4Uz0Uz0Uz0Uz2Uz4Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz2Uz0Uz0Uz0Uz2Uz3Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz1Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz1Uz0Uz0Uz0Uz2Uz3Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz1Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz1cUz0Uz0Uz0Uz1Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uz0Uznz0e9Uz7dUz20Uz0ffUz11Uz40Uz0a3Uz9aUz0bfU3z0f5Uz12Uz0a8Uzhz4Uz4U"
  val rle2: Vector[Option[String]] = Vector(
    Some("1"), Some("U"), Some("1"), Some("r"), Some("1"), Some("t"), Some("102"), Some("z"),
    Some("2"), Some("4"), Some("2"), Some("2"), Some("42"), Some("z"), Some("2"), Some("1"),
    Some("5"), Some("z"), Some("2"), Some("1"), Some("8"), Some("z"), Some("2"), Some("a"),
    Some("2"), Some("U"), Some("7"), Some("z"), Some("2"), Some("f"), Some("2"), Some("z"),
    Some("2"), Some("a"), Some("2"), Some("e"), Some("2"), Some("z"), Some("1"), Some("4"),
    Some("2"), Some("f"), Some("3"), Some("3"), Some("1"), Some("1"), Some("1"), Some("4"),
    Some("15"), Some("0"), Some("2"), Some("1"), Some("3"), Some("0"), Some("2"), Some("1"),
    Some("1"), Some("0"), Some("1"), Some("1"), Some("36"), Some("0"), Some("2"), Some("c"),
    Some("8"), Some("0"), Some("1"), Some("1"), Some("1"), Some("5"), Some("1"), Some("2"),
    Some("1"), Some("1"), Some("1"), Some("4"), Some("41"), Some("0"), Some("2"), Some("2"),
    Some("2"), Some("a"), Some("2"), Some("0"), Some("2"), Some("f"), Some("2"), Some("5"),
    Some("1"), Some("2"), Some("9"), Some("0"), Some("2"), Some("d"), Some("6"), Some("0"),
    Some("3"), Some("2"), Some("2"), Some("1"), Some("1"), Some("4"), Some("1"), Some("2"),
    Some("1"), Some("0"), Some("2"), Some("9"), Some("2"), Some("3"), Some("2"), Some("8"),
    Some("6"), Some("0"), Some("2"), Some("9"), Some("2"), Some("0"), Some("2"), Some("1"),
    Some("2"), Some("7"), Some("1"), Some("e"), Some("2"), Some("0"), Some("1"), None,
    Some("2"), Some("0"), Some("2"), Some("b"), Some("2"), Some("f"), Some("2"), Some("0"),
    Some("2"), Some("z"), Some("1"), Some("d"), Some("1"), Some("-"), Some("1"), Some("u"),
    Some("2"), Some("z"), Some("1"), Some("t"), Some("1"), Some("m"), Some("1"), Some("o"),
    Some("1"), Some("n"), Some("1"), Some("i"), Some("1"), Some("o"), Some("30"), Some("U"),
    Some("1"), Some("-"), Some("95"), Some("U"), Some("2"), Some("n"), Some("2"), Some("3"),
    Some("31"), Some("U"), Some("2"), Some("h"), Some("9"), Some("U")
  )
}

/** Seeded inputs of six pathological shapes for the kernel equivalence
  * cases (SA vs naive/generic, fused vs unfused MTF/RLE): full alphabet,
  * binary, constant, periodic, text-like (with multi-byte UTF-8) and runs
  * of runs.
  */
object ShapedInputs {
  val Shapes = 6

  def apply(rnd: scala.util.Random, shape: Int, maxLen: Int): Array[Byte] = {
    val n = rnd.nextInt(maxLen) + 1
    shape match {
      case 0 => Array.fill(n)(rnd.nextInt(256).toByte)
      case 1 => Array.fill(n)(rnd.nextInt(2).toByte)
      case 2 => Array.fill(n)(7.toByte)
      case 3 =>
        val p = rnd.nextInt(8) + 1
        Array.tabulate(n)(i => (i % p).toByte)
      case 4 =>
        val words = Array("the", "cat", "sat", "on", "mat", "über", "naïve", "data ")
        val sb = new StringBuilder
        while (sb.length < n) sb.append(words(rnd.nextInt(words.length))).append(' ')
        sb.toString.take(n).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case _ =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
        while (out.length < n) {
          val b = rnd.nextInt(4).toByte
          out ++= Iterator.fill(rnd.nextInt(50) + 1)(b)
        }
        out.take(n).toArray
    }
  }

  /** A text [[Pipelines.textEncode]] stores as body tag 0: its MTF+RLE
    * stream is shorter than its RLE, its raw bytes and its Huffman form,
    * which is rare (a seeded search over random texts of a few short words
    * found it). Web text takes tag 3, short and repetitive text tag 1.
    */
  val MtfRleText: String =
    "abbabbabbaabbabbabbababbaaaabbaaaabaabbaaababbbaaabbaabbaaaaaabbbababbaaabbaabbabbbababb" +
      "aabbabbaababbaaabbabbaabbaabaaabbaabbbaaaabbbaaabbaaabbabaaaaabbaaabbabba"

  /** `perShape` inputs of each shape, up to `maxLen` bytes each. */
  def all(seed: Long, perShape: Int, maxLen: Int): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    for (shape <- 0 until Shapes; _ <- 1 to perShape) yield apply(rnd, shape, maxLen)
  }
}
