package graft.tools

import graft.Bench
import graft.spark.{EncodeConfig, EncodeJob, PagesGen, VerifyJob}

/** Volume soak of the flagship loop (VERDICT r02 task 9): encode + full
  * bit-identical/size verify at the largest local corpus — issues that
  * only volume finds (chunk-id overflow, lineage fan-in, verify-join
  * skew) have nowhere to hide behind the 300-page entry run.
  *
  *   SPARK_DRIVER_MEM=24g sbt -batch "runMain graft.tools.SoakRun 640000"
  *
  * Prints one SOAK line; non-zero exit if any gate fails.
  */
object SoakRun {
  def main(args: Array[String]): Unit = {
    val nPages = if (args.nonEmpty) args(0).toLong else 640000L
    val spark = Bench.newSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import spark.implicits._
    val pagesPath = graft.Scratch.cache(s"soak_pages_$nPages.parquet")
    val out = graft.Scratch.dir("soak_out")
    try {
      if (!new java.io.File(pagesPath).exists()) {
        PagesGen.generate(spark, nPages, hostSkew = true, partitions = 128)
          .write.mode("overwrite").parquet(pagesPath)
      }
      Bench.deleteDir(out)
      val pages = spark.read.parquet(pagesPath).as[graft.spark.Page]
      val t0 = System.nanoTime()
      val lin = EncodeJob.run(spark, pages, out,
        EncodeConfig(numPartitions = 512, saltFactor = 16)).collect()
      val encSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val report = VerifyJob.run(spark, pages, out)
      val verSec = (System.nanoTime() - t1) / 1e9
      val (bytesIn, bytesOut) = (lin.map(_.bytes_in).sum, lin.map(_.bytes_out).sum)
      val gb = bytesIn / 1e9
      println(f"SOAK pages=$nPages bytes_in=$bytesIn (${gb}%.2f GB) " +
        f"ratio=${bytesOut.toDouble / bytesIn}%.4f chunks=${lin.map(_.n_chunks).sum} " +
        f"encode_sec=$encSec%.1f (${gb / encSec}%.3f GB/s) verify_sec=$verSec%.1f " +
        s"rows_decoded=${report.rows_decoded} mismatched=${report.mismatched_rows} " +
        s"except=${report.except_violations} size_gate_ok=${report.size_gate_ok}")
      val ok = report.mismatched_rows == 0 && report.except_violations == 0 &&
        report.size_gate_ok && report.rows_decoded == nPages
      if (!ok) { System.err.println(s"SOAK GATE FAILED: $report"); sys.exit(1) }
    } finally {
      Bench.deleteDir(out) // the soak table is GBs: do not wait for JVM exit
      spark.stop()
    }
  }
}
