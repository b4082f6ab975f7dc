package graft.tools

import org.apache.spark.sql.functions._

import graft.Bench
import graft.spark.{DecodeJob, EncodeConfig, EncodeJob, Page, PagesGen, VerifyJob}

/** Full-lifecycle soak (VERDICT r05 task 1): every table verb, in the
  * order a production corpus actually experiences them, at the 5.88 GB
  * soak scale — bootstrap -> N incremental appends -> bulk takedown
  * delete -> partition-emptying delete (tombstone) -> newest-wins upsert
  * -> resume-style run (tombstone durability) -> fragmentation-selected
  * compact -> full bit-identical verify. The per-verb specs and the
  * sf0.01/sf0.1 oracles prove correctness; this run proves the verbs
  * COMPOSE at a scale where chunk-id fan-in, lineage folding, the
  * presence-scan joins and the 512-partition compaction rewrite have nowhere
  * to hide.
  *
  *   SPARK_DRIVER_MEM=24g sbt -batch "runMain graft.tools.LifecycleSoak 640000"
  *
  * Prints one LIFECYCLE line (per-phase seconds + gates); non-zero exit
  * if any gate fails.
  */
object LifecycleSoak {
  def main(args: Array[String]): Unit = {
    val nPages = if (args.nonEmpty) args(0).toLong else 640000L
    val spark = Bench.newSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import spark.implicits._
    val pagesPath = graft.Scratch.cache(s"soak_pages_$nPages.parquet")
    val out = graft.Scratch.dir("lifecycle_out")
    var failed = false
    val cfg = EncodeConfig(numPartitions = 512, saltFactor = 16)
    val wipedPid = 7

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    try {
      if (!new java.io.File(pagesPath).exists()) {
        PagesGen.generate(spark, nPages, hostSkew = true, partitions = 128)
          .write.mode("overwrite").parquet(pagesPath)
      }
      Bench.deleteDir(out)
      val pages = spark.read.parquet(pagesPath)
      // deterministic roles: slice 0-15 of 20 bootstraps, 16..19 append;
      // h31==3 is the takedown batch, h31==7 the refresh batch (disjoint)
      val withMeta = pages
        .withColumn("pid", EncodeJob.partIdCol(cfg))
        .withColumn("slice", pmod(xxhash64($"url"), lit(20)))
        .withColumn("h31", pmod(xxhash64($"url"), lit(31)))
      withMeta.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      def pagesOf(df: org.apache.spark.sql.DataFrame) =
        df.select("url", "warc_ts", "html", "text", "lang").as[Page]

      // 1. bootstrap (~80% of the corpus)
      val (_, bootSec) = timed {
        EncodeJob.run(spark, pagesOf(withMeta.filter($"slice" < 16)), out, cfg)
      }
      // 2. four incremental appends (~5% each)
      val (_, appendSec) = timed {
        (16 to 19).foreach { s =>
          EncodeJob.append(spark, pagesOf(withMeta.filter($"slice" === s)), out, cfg)
        }
      }
      // 3. bulk takedown delete + redelivered-batch no-op gate
      val delUrls = withMeta.filter($"h31" === 3).select($"url").as[String].collect().toSeq
      val (_, delSec) = timed { EncodeJob.delete(spark, out, delUrls, cfg) }
      val (redelivered, redelSec) = timed {
        EncodeJob.delete(spark, out, delUrls, cfg).count()
      }
      // 4. partition-emptying delete: every url homed in wipedPid -> the
      // partition dir is dropped and a zero-row tombstone written
      val wipeUrls = withMeta.filter($"pid" === wipedPid).select($"url").as[String].collect().toSeq
      val (_, wipeSec) = timed { EncodeJob.delete(spark, out, wipeUrls, cfg) }
      // 5. newest-wins refresh of the h31==7 batch (outside the wiped part)
      val refresh = withMeta.filter($"h31" === 7 && $"pid" =!= wipedPid)
        .withColumn("text", concat(lit("refreshed "), $"text"))
        .withColumn("warc_ts", $"warc_ts" + expr("INTERVAL 1 HOUR"))
      val (_, upsertSec) = timed { EncodeJob.upsert(spark, pagesOf(refresh), out, cfg) }
      // 6. resume-style run with the ORIGINAL input: every partition is
      // done (or tombstoned), so nothing may re-encode and no taken-down
      // url may resurrect — deletion durability at scale
      val (_, resumeSec) = timed { EncodeJob.run(spark, pagesOf(withMeta), out, cfg) }
      // 7. fragmentation-selected compaction (the steady-state call)
      val (frag, fragSec) = timed { EncodeJob.fragmentedPartIds(spark, out, cfg, slackChunks = 0) }
      val (_, compactSec) = timed {
        if (frag.nonEmpty) EncodeJob.compact(spark, out, cfg, partIds = Some(frag))
      }
      val fragAfter = EncodeJob.fragmentedPartIds(spark, out, cfg, slackChunks = 0)
      // 8. full bit-identical + size verify against the expected table
      val expected = withMeta
        .filter($"h31" =!= 3 && $"pid" =!= wipedPid)
        .withColumn("text",
          when($"h31" === 7, concat(lit("refreshed "), $"text")).otherwise($"text"))
        .withColumn("warc_ts",
          when($"h31" === 7, $"warc_ts" + expr("INTERVAL 1 HOUR")).otherwise($"warc_ts"))
      val (report, verSec) = timed { VerifyJob.run(spark, pagesOf(expected), out) }

      // spot gates through the point-read path
      val delGone = DecodeJob.lookupUrls(spark, out, delUrls.take(20)).count()
      val wipeGone = DecodeJob.lookupUrls(spark, out, wipeUrls.take(20)).count()
      // one fetch for urls AND expected texts (two head() calls could in
      // principle pick different rows), compared exactly — a null text
      // must fail the gate, not pass it
      val upExpect = refresh.select($"url", $"text").as[(String, String)].head(20).toMap
      val upSeen = DecodeJob.lookupUrls(spark, out, upExpect.keys.toSeq).collect()
        .map(p => p.url -> p.text).toMap

      // lineage must have folded to O(partitions) despite 5+ write
      // generations: exactly one row per partition (incl. drop tombstones)
      val linPids = spark.read.parquet(EncodeJob.lineagePath(out)).select("part_id")
      val linRows = linPids.count()
      val linParts = linPids.distinct().count()

      val lin = spark.read.parquet(EncodeJob.lineagePath(out))
        .agg(sum("bytes_in"), sum("bytes_out"), sum("n_rows")).first()
      val gb = lin.getLong(0) / 1e9
      val expectedRows = expected.count()

      val gates = Seq(
        "bit_identical" -> (report.mismatched_rows == 0 && report.except_violations == 0),
        "size_gate" -> report.size_gate_ok,
        "row_count" -> (report.rows_decoded == expectedRows),
        "redelivered_delete_noop" -> (redelivered == 0L),
        "deleted_absent" -> (delGone == 0L && wipeGone == 0L),
        "upsert_won" -> (upSeen == upExpect),
        "tombstone_durable" -> !new java.io.File(
          s"${EncodeJob.chunksPath(out)}/part_id=$wipedPid").exists(),
        "defragmented" -> fragAfter.isEmpty,
        "lineage_folded" -> (linRows == linParts))
      println(f"LIFECYCLE pages=$nPages bytes_in=${lin.getLong(0)} (${gb}%.2f GB) " +
        f"ratio=${lin.getLong(1).toDouble / lin.getLong(0)}%.4f rows=${report.rows_decoded} " +
        f"boot=$bootSec%.1f append4=$appendSec%.1f delete=$delSec%.1f redeliver=$redelSec%.1f " +
        f"wipe=$wipeSec%.1f upsert=$upsertSec%.1f resume=$resumeSec%.1f " +
        f"fragsel=$fragSec%.1f(${frag.size} parts) compact=$compactSec%.1f verify=$verSec%.1f " +
        s"gates=${gates.map { case (k, v) => s"$k=$v" }.mkString(",")}")
      if (gates.exists(!_._2)) {
        System.err.println(s"LIFECYCLE GATE FAILED: ${gates.filter(!_._2).map(_._1)}; $report")
        // record the failure but FALL THROUGH to the finally: sys.exit
        // here would skip the table cleanup and spark.stop()
        failed = true
      }
    } finally {
      Bench.deleteDir(out)
      spark.stop()
    }
    if (failed) sys.exit(1)
  }
}
