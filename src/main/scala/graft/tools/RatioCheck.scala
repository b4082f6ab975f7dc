package graft.tools

/** Probe: corpus compression ratio at two salt factors — pins that the
  * round-7 default saltFactor change (4 -> 16) is layout-only: the
  * per-value text/html codecs are salt-blind and the url/lang chunk
  * columns measure byte-parity (0.2991 at both salts on the sf0.1
  * pages corpus, delta 6.7 KB of 110 MB).
  */
object RatioCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.newSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import spark.implicits._
    val pages = spark.read.parquet(graft.Bench.preparePages(spark, "/root/testdata/sf0.1"))
      .as[graft.spark.Page]
    for (salt <- Seq(4, 16)) {
      val out = graft.Scratch.dir(s"ratio_salt$salt")
      graft.Bench.deleteDir(out)
      val recs = graft.spark.EncodeJob.run(spark, pages, out,
        graft.spark.EncodeConfig(numPartitions = 64, saltFactor = salt)).collect()
      val (bytesIn, bytesOut) = (recs.map(_.bytes_in).sum, recs.map(_.bytes_out).sum)
      println(f"RATIO salt=$salt%2d bytes_in=$bytesIn bytes_out=$bytesOut ratio=${bytesOut.toDouble / bytesIn}%.4f")
      graft.Bench.deleteDir(out)
    }
    spark.stop()
  }
}
