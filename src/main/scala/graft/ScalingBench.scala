package graft

import org.apache.spark.sql.SparkSession

/** Two-cluster-size scaling evidence (north rule: throughput efficiency
  * >= 0.8 from N to 4N executors; sandbox stand-in per driver instruction:
  * the same encode job at local[8] vs local[32] on identical input).
  *
  * Each level runs in its OWN JVM (`level` subcommand) — running both in
  * one process biases whichever level runs second via old-gen bloat and
  * JIT state. The logical plan is identical at both levels (fixed 128
  * partitions, fixed salt): cores are the only variable, as on a real
  * cluster where adding executors doesn't change table partitioning.
  *
  * Usage:
  *   runMain graft.ScalingBench level 8  40000 3
  *   runMain graft.ScalingBench level 32 40000 3
  *   runMain graft.ScalingBench report 40000
  */
object ScalingBench {

  /** Timed unit: read the pages TABLE (parquet, as the north rule's input
    * is a table, not an in-job synthesizer) -> salted repartition ->
    * encode -> write chunks + lineage.
    */
  private def timeEncode(spark: SparkSession, pagesPath: String, outDir: String): (Double, Long) = {
    import spark.implicits._
    Bench.deleteDir(outDir)
    val pages = spark.read.parquet(pagesPath).as[graft.spark.Page]
    val t0 = System.nanoTime()
    graft.spark.EncodeJob.run(spark, pages, outDir,
      graft.spark.EncodeConfig(numPartitions = 512, saltFactor = 16))
    val sec = (System.nanoTime() - t0) / 1e9
    val bytes = spark.read.parquet(graft.spark.EncodeJob.lineagePath(outDir))
      .agg(org.apache.spark.sql.functions.sum("bytes_in")).first().getLong(0)
    (sec, bytes)
  }

  def runLevel(cpus: Int, nPages: Long, reps: Int): (Double, Long) = {
    val spark = Bench.newSession(cpus.toString)
    val out = s"/dev/shm/graft_bench/scaling_$cpus"
    val pagesPath = s"/dev/shm/graft_bench/pages_$nPages.parquet"
    try {
      // materialize the input table once (untimed, deterministic)
      if (!new java.io.File(pagesPath).exists()) {
        graft.spark.PagesGen.generate(spark, nPages, hostSkew = true, partitions = 128)
          .write.mode("overwrite").parquet(pagesPath)
      }
      timeEncode(spark, pagesPath, out) // warmup rep (JIT)
      var best = Double.MaxValue
      var bytes = 0L
      (1 to reps).foreach { _ =>
        waitForQuiet() // let the VM's post-run kernel reclaim settle
        val (sec, b) = timeEncode(spark, pagesPath, out + "_t")
        if (sec < best) { best = sec; bytes = b }
      }
      (best, bytes)
    } finally {
      spark.stop()
      Bench.deleteDir(out)
      Bench.deleteDir(out + "_t")
    }
  }

  /** The sandbox VM shows lingering kernel load (memory-reclaim kworkers)
    * for ~2 min after heavy runs; timing during that window adds up to 30%
    * noise. Wait until the 1-min load average drops below the threshold.
    */
  private def waitForQuiet(threshold: Double = 3.0, maxWaitSec: Int = 180): Unit = {
    val deadline = System.nanoTime() + maxWaitSec * 1000000000L
    var load = 100.0
    while (System.nanoTime() < deadline && {
        load = Bench.loadavg()
        load >= threshold
      }) Thread.sleep(5000)
  }

  private def resultPath(cpus: Int) = s"/root/repo/target/bench/scaling_result_$cpus.txt"

  def main(args: Array[String]): Unit = args.toList match {
    case "level" :: cpus :: nPages :: reps :: Nil =>
      val (sec, bytes) = runLevel(cpus.toInt, nPages.toLong, reps.toInt)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("/root/repo/target/bench"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(resultPath(cpus.toInt)), s"$sec $bytes")
      println(f"SCALING level=$cpus sec=$sec%.2f bytes=$bytes")

    case "report" :: nPages :: rest if rest.length <= 2 =>
      val (lo, hi) = rest match {
        case a :: b :: Nil => (a.toInt, b.toInt)
        case _             => (8, 32)
      }
      val Array(secLo, bytesLo) = java.nio.file.Files
        .readString(java.nio.file.Paths.get(resultPath(lo))).trim.split(' ')
      val Array(secHi, bytesHi) = java.nio.file.Files
        .readString(java.nio.file.Paths.get(resultPath(hi))).trim.split(' ')
      require(bytesLo == bytesHi, s"non-deterministic input?! $bytesLo vs $bytesHi")
      val gb = bytesLo.toLong / 1e9
      val thLo = gb / secLo.toDouble
      val thHi = gb / secHi.toDouble
      val eff = (thHi / thLo) / (hi.toDouble / lo)
      println(
        s"""{"metric":"scaling_efficiency","value":${f"$eff%.3f"},"unit":"ratio","n_pages":$nPages,"bytes":$bytesLo,"local${lo}_sec":${f"${secLo.toDouble}%.2f"},"local${hi}_sec":${f"${secHi.toDouble}%.2f"},"local${lo}_gbps":${f"$thLo%.4f"},"local${hi}_gbps":${f"$thHi%.4f"}}""")
      val md =
        s"""## Measured scaling (engine, round-local)
           |
           |Same deterministic encode job (PagesGen, $nPages pages, ${f"$gb%.3f"} GB raw,
           |host-skewed, salted fixed 512-partition plan) at two parallelism levels,
           |each level in a fresh JVM — the sandbox stand-in for N vs ${hi / lo}N executors:
           |
           || level | wall sec (best of reps) | throughput GB/s |
           ||---|---|---|
           || local[$lo]  | ${f"${secLo.toDouble}%.2f"} | ${f"$thLo%.4f"} |
           || local[$hi] | ${f"${secHi.toDouble}%.2f"} | ${f"$thHi%.4f"} |
           |
           |**Scaling efficiency ($lo -> $hi cores): ${f"$eff%.3f"}** (target >= 0.8).
           |""".stripMargin
      val basePath = java.nio.file.Paths.get("/root/repo/BENCH")
      java.nio.file.Files.createDirectories(basePath)
      java.nio.file.Files.writeString(basePath.resolve("SCALING_LAST.md"), md)

    case other =>
      System.err.println(s"usage: level <cpus> <pages> <reps> | report <pages>; got $other")
      sys.exit(2)
  }
}
