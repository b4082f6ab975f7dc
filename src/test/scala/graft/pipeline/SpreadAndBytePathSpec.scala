package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.{DecodeJob, EncodeConfig, EncodeJob, Page}

/** Pins the round-7 optimization internals:
  *  - [[Dedup.spread]] is a parallelism FLOOR: sub-parallelism inputs are
  *    spread to defaultParallelism, already-parallel inputs pass through
  *    with their partitioning untouched (no shuffle added at scale), and
  *    deciding which runs no Spark job;
  *  - the byte-shaped encode/decode path (binary kernel rows + codegen'd
  *    cast/timestamp_micros on decode) round-trips multibyte text and
  *    sub-second timestamps exactly.
  */
class SpreadAndBytePathSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("spread-bytepath-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("spread raises a one-partition input to defaultParallelism") {
    import spark.implicits._
    val one = spark.createDataset(1 to 100).repartition(1)
    val p = spark.sparkContext.defaultParallelism
    assert(Dedup.spread(one).rdd.getNumPartitions == p)
  }

  test("spread leaves an already-parallel input untouched (same plan, no shuffle)") {
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism
    val wide = spark.createDataset(1 to 100).repartition(p + 2)
    val spreadDs = Dedup.spread(wide)
    assert(spreadDs eq wide) // identity: not even a new plan node
  }

  test("spread decides on a grouped input without running it") {
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism
    val grouped = spark.createDataset(1 to 100).groupByKey(_ % 7).count()
    // planned at spark.sql.shuffle.partitions (4 here): already parallel
    var kept: org.apache.spark.sql.Dataset[(Int, Long)] = null
    assert(graft.spark.TestSpark.jobsOf { kept = Dedup.spread(grouped) } == 0)
    assert(kept eq grouped)
    // coalesced to one partition: spread, still without a job
    val narrow = grouped.coalesce(1)
    var spreadDs: org.apache.spark.sql.Dataset[(Int, Long)] = null
    assert(graft.spark.TestSpark.jobsOf { spreadDs = Dedup.spread(narrow) } == 0)
    assert(spreadDs.rdd.getNumPartitions == p)
  }

  test("byte-path encode/decode round-trips multibyte text, urls and micros exactly") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-05-06 07:08:09.123456")
    val pages = Seq(
      Page("https://a.example/文档/ü?!", ts, "<p>中文 κείμενο</p>".getBytes("UTF-8"),
        "naïve 中文 text 🙂 mixed", "zh"),
      Page("https://b.example/plain", ts, null, null, null),
      Page("https://c.example/ε", ts, Array.emptyByteArray, "", "el")
    )
    val out = java.nio.file.Files.createTempDirectory("bytepath").toString
    EncodeJob.run(spark, spark.createDataset(pages), out,
      EncodeConfig(numPartitions = 2, chunkRows = 2))
    val decoded = DecodeJob.run(spark, out).collect().map(p => p.url -> p).toMap
    assert(decoded.size == 3)
    for (p <- pages) {
      val d = decoded(p.url)
      assert(d.text == p.text, s"text of ${p.url}")
      assert(d.lang == p.lang, s"lang of ${p.url}")
      assert((d.html == null) == (p.html == null) &&
        (d.html == null || d.html.sameElements(p.html)), s"html of ${p.url}")
      assert(d.warc_ts == p.warc_ts, s"warc_ts of ${p.url} (${d.warc_ts} vs ${p.warc_ts})")
    }
    graft.Bench.deleteDir(out)
  }
}
