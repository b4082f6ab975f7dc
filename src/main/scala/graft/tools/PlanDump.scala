package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` of each bench query's DataFrame to
  * plans/r07/<query>_<suffix>.txt (the optimization-round deliverable:
  * judge-checkable plan evidence). Usage: `runMain graft.tools.PlanDump
  * before|after` — run before and after the round's changes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = if (args.nonEmpty) args(0) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Bench.newSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    import spark.implicits._
    val outDir = Paths.get("plans", "r07")
    Files.createDirectories(outDir)

    def dump(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      try {
        val s = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), s)
        println(s"dumped $name")
      } catch { case e: Throwable =>
        println(s"FAILED $name: ${e.getMessage}")
      }
    }

    // --- encode_pages / decode_pages: run the encode first so the decode
    // (and the encode plan itself) reflect the real bench tables
    val out = graft.Scratch.dir("plans_r07_table")
    graft.Bench.deleteDir(out)
    val pages = spark.read.parquet(graft.Bench.preparePages(spark, sfDir))
      .as[graft.spark.Page]
    val cfg = graft.spark.EncodeConfig(
      numPartitions = spark.sparkContext.defaultParallelism * 2)
    dump("encode_pages")(
      graft.spark.EncodeJob.encodeChunkStreamForPlan(pages.toDF(), cfg))
    graft.spark.EncodeJob.run(spark, pages, out, cfg)
    dump("decode_pages")(graft.spark.DecodeJob.run(spark, out).toDF())

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)]
    dump("dedup_minhash")(
      graft.pipeline.Dedup.minHashPairs(spark, docs, threshold = 0.3))
    dump("dedup_spans")(graft.pipeline.Dedup.dupSpanCoverage(spark, docs))

    val docsS = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id".cast("string"), $"text").as[(String, String)]
    dump("fm_search")(
      graft.spark.SearchJob.run(spark, docsS, Seq("data", "the")).toDF())
    val idxDir = graft.Scratch.dir("plans_r07_fmindex")
    graft.Bench.deleteDir(idxDir)
    graft.spark.IndexJob.build(spark, docsS, idxDir)
    dump("fm_search_indexed")(
      graft.spark.IndexJob.search(spark, idxDir, Seq("data", "the")).toDF())

    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
    dump("ann_brute")(
      graft.pipeline.Similarity.bruteForceTopK(spark, vecs, 0L until 5L, 5))
    spark.stop()
  }
}
