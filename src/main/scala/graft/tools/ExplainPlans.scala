package graft.tools

import org.apache.spark.sql.functions._

/** Dumps formatted Catalyst plans of the engine's key jobs to
  * BENCH/PLANS.md so pushdown / pruning / exchange structure is reviewable
  * (and re-generatable every round).
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.newSession("8")
    import spark.implicits._
    val sb = new StringBuilder
    sb.append("# Catalyst plans of the key engine jobs (auto-generated by graft.tools.ExplainPlans)\n")

    def section(title: String, note: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode match {
        case _ => org.apache.spark.sql.execution.FormattedMode
      }))
      sb.append("```\n")
    }

    val out = graft.Scratch.dir("plans_demo")
    graft.Bench.deleteDir(out)
    val pages = graft.spark.PagesGen.generate(spark, 2000, hostSkew = true, partitions = 8)
    graft.spark.EncodeJob.run(spark, pages, out, graft.spark.EncodeConfig(numPartitions = 8))

    // the one encode plan: narrow pre-encode BEFORE the single salted
    // exchange, spillable Tungsten sort, streaming chunk kernel
    val cfg = graft.spark.EncodeConfig(numPartitions = 8)
    // the REAL production dataflow (round 7: byte-shaped kernel rows —
    // codegen'd cast/unix_micros feed the kernel raw UTF-8 bytes)
    val encodePlan = graft.spark.EncodeJob.encodeChunkStreamForPlan(pages.toDF(), cfg)
    section("EncodeJob dataflow: pre-encode, salted exchange, spill-safe sort, streaming kernel",
      "Heavy per-doc compression runs in the narrow stage BEFORE the single salted exchange (shuffle moves ~0.3x compressed payloads); the in-partition Sort is Catalyst's spillable Tungsten sort feeding the O(chunk)-memory streaming kernel — no stage buffers a whole partition.")(encodePlan)

    // pruned read: only chunk metadata + one nested stats leaf — no
    // payload blob column may appear in ReadSchema (nested-schema pruning)
    val pruned = spark.read.parquet(graft.spark.EncodeJob.chunksPath(out))
      .select($"part_id", $"chunk_id", $"text.bytes_out")
    section("Pruned metadata scan of the chunks table",
      "ReadSchema carries only text.bytes_out of the nested column structs — none of the five payload blob leaves is read (parquet nested-schema pruning).")(pruned)

    val decodePlan = graft.spark.DecodeJob.run(spark, out).toDF()
    section("DecodeJob", "NO exchange at all: a chunk row is self-contained (all five column payloads nested in one row), so decode is a pure narrow map over the scan — the layout removes the payload-regrouping shuffle by construction.")(decodePlan)

    val projScan = graft.spark.DecodeJob.projectedScan(spark, out, Seq("text")).head
    section("DecodeJob.decodeProjected: nested-schema-pruned payload scan",
      "ReadSchema carries only the url and text payload leaves — the html payload (most of the table's bytes) is never read from storage, so 'decode just the text' costs the text bytes, not the corpus.")(projScan)

    val docs = Seq(("d1", "abracadabra")).toDS()
    val searchPlan = graft.spark.SearchJob.run(spark, docs, Seq("abra")).toDF()
    section("SearchJob", "No exchange at all: broadcast pattern list, per-task FM-index build (the document axis is the parallel axis).")(searchPlan)

    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
    val annPlan = graft.pipeline.Similarity.bruteForceTopK(spark, vecs, Seq(0L, 1L, 2L, 3L, 4L), 5)
    section("ANN brute-force top-k",
      "No corpus-sized exchange and NO global window: scoring keeps a bounded per-partition heap per query, the final merge shuffles <= partitions*k rows per query, and the query-vector fetch is a pushed-down In filter on vec_id.")(annPlan)

    val docsKT = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)]
    val mhPlan = graft.pipeline.Dedup.minHashPairs(spark, docsKT, threshold = 0.3)
    section("MinHash LSH candidate pairs",
      "One hash exchange on (band, bucket) counts bucket sizes with a window BEFORE any member list is collected; oversized buckets are salt-split, and only sub-buckets within 2x maxBucket reach collect_list, so no aggregation buffer ever holds a degenerate bucket. The drop report is one exchange-free pass over the persisted member rows (not in this plan). The candidates' distinct and the first signature join share one exchange on id_a, and no distinct follows the joins.")(mhPlan)

    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val fil = lineitem.filter($"l_quantity" > 45.0).select($"l_orderkey", $"l_quantity")
    section("Predicate pushdown sanity (harness table)",
      "Filter + projection reach the parquet scan (PushedFilters / ReadSchema).")(fil)

    // stored ANN index: the probed-list scan must prune at the PARTITION
    // level (PartitionFilters on list_id; unprobed list dirs never opened)
    val ivfDir = graft.Scratch.dir("plans_ann_ivf")
    graft.Bench.deleteDir(ivfDir)
    graft.pipeline.AnnIndexJob.buildIvf(spark, vecs, ivfDir, nLists = 8)
    val ivfScan = spark.read.parquet(s"$ivfDir/ivf_assign")
      .filter($"list_id".isin(0L, 3L))
    section("Stored IVF index: partition-pruned probe scan",
      "list_id is the partition column, so the probe filter appears as PartitionFilters — a probe of p of L lists reads ~p/L of the index and never opens the other directories.")(ivfScan)
    val ivfSearch = graft.pipeline.AnnIndexJob.searchIvf(spark, ivfDir, Seq(0L, 1L), 5, nProbe = 2)
    section("Stored IVF index: full search plan",
      "No corpus assignment pass anywhere: the pruned scan feeds bounded per-partition heaps and the tiny merge, exactly the bruteForceTopK shape minus the unprobed lists.")(ivfSearch)

    val rhpDir = graft.Scratch.dir("plans_ann_rhp")
    graft.Bench.deleteDir(rhpDir)
    graft.pipeline.AnnIndexJob.buildRhp(spark, vecs, rhpDir, bands = 4, bitsPerBand = 8)
    val rhpSearch = graft.pipeline.AnnIndexJob.searchRhp(spark, rhpDir, Seq(0L, 1L), 5, multiProbe = 1)
    section("Stored RHP-LSH index: hamming-ball probe scan",
      "partitionBy(band) prunes at the directory level and the enumerated probe-bucket isin pushes to row-group stats (rows were written bucket-sorted); the first-matching-band gate dedups (query, candidate) pairs with NO distinct exchange.")(rhpSearch)

    // pruned point lookup on the encoded table: url home-partition pruning
    // (part_id is a pure url function via the stored _meta) + url_min/url_max
    // range pushdown — payloads of non-covering chunks are never read
    val someUrls = pages.take(3).map(_.url).toSeq
    val lookupPlan = graft.spark.DecodeJob.lookupUrls(spark, out, someUrls).toDF()
    section("DecodeJob.lookupUrls: pruned point read of the encoded table",
      "The chunk scan carries PartitionFilters on part_id (each url's home partition, computed from the stored _meta config) AND PushedFilters on url_min/url_max (chunk ranges, pushed to row-group stats) — a k-url lookup decodes <= k chunks regardless of table size. This is the table-level analogue of FM locate's random access without full decompression.")(lookupPlan)
    val prefixPlan = graft.spark.DecodeJob.decodeUrlPrefix(spark, out, "https://host1.").toDF()
    section("DecodeJob.decodeUrlPrefix: range-pruned slice decode",
      "Prefix interval [p, succ(p)) as a url_min/url_max overlap test; pushed to row-group stats on every partition (hosts are salt-spread by design, so no partition pruning here — the row groups do the work).")(prefixPlan)

    val (presCovering, _) = graft.spark.EncodeJob.presenceScan(
      spark, out, pages.take(40).map(_.url).toSeq, graft.spark.EncodeJob.readMeta(spark, out))
    section("Delete/upsert presence check: part_id equi-key hash join",
      "The (d_url, d_part) targets broadcast-HASH-join the chunk metadata on the part_id EQUI key with the url_min/url_max range test as residual — each chunk row probes only its own partition's urls, O(urls/P). The scan is also partition-pruned to the home dirs driver-side. The explicit equi-key split keeps this strategy independent of nullability inference (the former folded isNull-OR predicate got the same plan only because d_part's non-nullable schema let Catalyst fold it); spec-pinned.")(presCovering)

    // capped dedup with the salt-split tier engaged: sizes agg -> split ->
    // sub-cap -> bounded collect_list, still no unbounded buffer anywhere
    val capped = graft.pipeline.Dedup.simHashPairs(spark, docsKT, maxHamming = 8, maxBucket = 32)
    // wave-2 curation (round 6)
    val docsW2 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)]
    section("Decontamination probe (q60 shape)",
      "ZERO exchanges: the benchmark side's distinct n-grams are collected once (bounded, loud cap) and broadcast as a hash set; the training corpus is one narrow MapPartitions probing it — no explode, no join, no shuffle touches the 100 TB side.")(
      graft.pipeline.Dedup.decontaminate(spark,
        docsW2.filter(_._1 % 7 != 0), docsW2.filter(_._1 % 7 == 0)))
    section("Duplicated-span coverage (q61 shape)",
      "Document text never shuffles: windows leave the narrow flatMap as (rolling 64-bit hash, doc_id, pos) triples, computed O(tokens) per doc with no gram string built. TWO exchanges only: one spillable sort-based groupByKey on the hash whose flatMapGroups STREAMS each group (re-emitting it exactly when a second member exists — a billion-occurrence boilerplate gram never buffers), then the per-doc interval-union fold, whose groupBy also takes one (doc_id, -1) sentinel per input row from a key-only scan, so every row gets its output row without a join back to the docs. No count-aggregate + rejoin pair, no second shuffle of the window set.")(
      graft.pipeline.Dedup.dupSpanCoverage(spark, docsW2))
    section("SimHash pairs, production capped regime (q40 shape)",
      "Oversized buckets are salt-split (band-dependent) instead of dropped; only sub-buckets within 2x the cap reach collect_list, so the recall recovery costs two small aggregations and never a quadratic buffer.")(capped)

    // preserve manually-appended round sections (e.g. the Round-5 compact
    // plan, BENCH/PLANS.md §Round 5: EncodeJob.compact) across regeneration
    val plansPath = java.nio.file.Paths.get("BENCH", "PLANS.md")
    java.nio.file.Files.createDirectories(plansPath.getParent)
    val manual =
      if (java.nio.file.Files.exists(plansPath)) {
        val old = java.nio.file.Files.readString(plansPath)
        val i = old.indexOf("\n## Round ")
        if (i >= 0) old.substring(i) else ""
      } else ""
    java.nio.file.Files.writeString(plansPath, sb.toString + manual)
    println("PLANS written: " + sb.length + " chars")
    spark.stop()
  }
}
