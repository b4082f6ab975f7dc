package graft.spark

import org.scalatest.funsuite.AnyFunSuite

/** Model-based randomized lifecycle test: a seeded random walk over the
  * table verbs (append / delete / upsert / compact / fragmentation-selected
  * compact) against an in-memory `Map[url, Page]` MODEL applying the
  * documented per-verb semantics:
  *
  *  - `append` is INSERT-ONLY per url (stored rows win; intra-delta dupes
  *    resolve to the newest `warc_ts` — EncodeJob.scala `dedupeDelta`);
  *  - `delete` removes stored urls, absent urls are no-ops;
  *  - `upsert` is newest-wins (delta replaces stored, inserts the rest);
  *  - the compaction forms change LAYOUT only, never content.
  *
  * After EVERY verb the whole table is decoded and compared field-exact to
  * the model, and its lineage is checked against its chunks: each live
  * part's folded `_lineage` row equals an aggregation of that part's chunk
  * metadata, and each part a verb emptied keeps a zero-row tombstone. The targeted specs each pin one verb's edges; this walk pins
  * the COMPOSITIONS the targeted specs cannot enumerate (e.g. delete-all →
  * append into the wiped table → upsert → compact), with deltas that
  * overlap stored urls, repeat urls intra-delta, and delete absent urls.
  * Deterministic: a fixed seed drives both the walk and the synthesized
  * pages, so a failure replays exactly.
  */
class LifecyclePropertySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/out"
  }

  /** Universe of candidate pages: distinct urls, deterministic bytes. */
  private def universe(n: Int): IndexedSeq[Page] =
    (0 until n).map(i => PagesGen.page(4242L, i.toLong, numHosts = 12, hostSkew = false))

  /** A refreshed (upsert) variant of `p`: later crawl, different content. */
  private def refreshed(p: Page, gen: Int): Page = {
    val ts = new java.sql.Timestamp(p.warc_ts.getTime + gen * 60000L)
    p.copy(
      warc_ts = ts,
      text = s"refresh g$gen ${p.text}",
      html = (s"<!-- g$gen -->" getBytes java.nio.charset.StandardCharsets.UTF_8) ++ p.html)
  }

  private def key(p: Page): (String, Long, String, String, String) =
    (p.url, p.warc_ts.getTime, p.text,
      if (p.html == null) "<null>" else p.html.mkString(","), p.lang)

  /** Intra-delta model winner: newest warc_ts. The walk never creates two
    * same-url rows with EQUAL timestamps, so the xxhash64 tie-break in
    * dedupeDelta is never load-bearing here (EdgeCasesSpec pins it).
    */
  private def dedupe(delta: Seq[Page]): Seq[Page] =
    delta.groupBy(_.url).valuesIterator.map(_.maxBy(_.warc_ts.getTime)).toSeq

  test("random verb walk matches the in-memory model after every step") {
    walk(20260817L)
  }

  test("random verb walk, second seed (different verb interleaving)") {
    walk(77L)
  }

  private def walk(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val out = tmpDir(s"lifecycle_walk_$seed")
    val cfg = EncodeConfig(numPartitions = 3, chunkRows = 32)
    val pages = universe(360)
    var nextFresh = 0 // universe cursor: pages not yet offered to the table
    def draw(k: Int): Seq[Page] = {
      val take = pages.slice(nextFresh, math.min(nextFresh + k, pages.length))
      nextFresh += take.length
      take
    }

    val model = scala.collection.mutable.Map.empty[String, Page]
    val everLive = scala.collection.mutable.Set.empty[Int]

    def check(step: String): Unit = {
      val got = DecodeJob.run(spark, out).collect().toSeq
      assert(got.map(_.url).distinct.size == got.size,
        s"[seed=$seed $step] duplicate urls in decode")
      assert(got.map(key).sorted == model.values.toSeq.map(key).sorted,
        s"[seed=$seed $step] decode != model (table=${got.size} model=${model.size})")
      val chunks = LineageOracle.fromChunks(spark, out)
      val lineage = LineageOracle.folded(spark, out)
      chunks.foreach { case (pid, agg) =>
        assert(lineage.get(pid).contains(agg),
          s"[seed=$seed $step] part $pid: folded lineage ${lineage.get(pid)} != chunks $agg")
      }
      everLive ++= chunks.keySet
      everLive.filterNot(chunks.contains).foreach { pid =>
        assert(lineage.get(pid).contains(LineageOracle.Tombstone),
          s"[seed=$seed $step] emptied part $pid: no zero-row tombstone (${lineage.get(pid)})")
      }
    }

    // bootstrap
    val boot = draw(90)
    EncodeJob.run(spark, boot.toDS(), out, cfg)
    boot.foreach(p => model(p.url) = p)
    check("bootstrap")

    for (step <- 1 to 12) {
      val storedUrls = model.keys.toIndexedSeq.sorted // deterministic order
      def sampleStored(k: Int): Seq[String] =
        rnd.shuffle(storedUrls).take(math.min(k, storedUrls.size))

      rnd.nextInt(5) match {
        case 0 => // append: fresh rows + redelivered stored rows (no-ops) + an intra-delta dupe
          val fresh = draw(1 + rnd.nextInt(40))
          val redelivered = sampleStored(rnd.nextInt(10)).map(u => refreshed(model(u), step))
          val dupes = fresh.take(rnd.nextInt(3)).map(p => refreshed(p, step))
          val delta = rnd.shuffle(fresh ++ redelivered ++ dupes)
          EncodeJob.append(spark, delta.toDS(), out, cfg)
          dedupe(delta).foreach(p => if (!model.contains(p.url)) model(p.url) = p)
          check(s"step$step append(${delta.size})")
        case 1 => // delete: stored urls + absent urls (no-ops); sometimes everything
          val victims =
            if (storedUrls.nonEmpty && rnd.nextInt(6) == 0) storedUrls
            else sampleStored(1 + rnd.nextInt(25))
          val delta = rnd.shuffle(victims ++ Seq(s"https://absent$step.example/x"))
          EncodeJob.delete(spark, out, delta, cfg)
          victims.foreach(model.remove)
          check(s"step$step delete(${victims.size})")
        case 2 => // upsert: refreshed stored rows + brand-new rows + an intra-delta dupe
          val refresh = sampleStored(rnd.nextInt(20)).map(u => refreshed(model(u), step))
          val fresh = draw(rnd.nextInt(15))
          val dupes = refresh.take(rnd.nextInt(3)).map(p => refreshed(p, step + 100))
          val delta = rnd.shuffle(refresh ++ fresh ++ dupes)
          if (delta.nonEmpty) {
            EncodeJob.upsert(spark, delta.toDS(), out, cfg)
            dedupe(delta).foreach(p => model(p.url) = p)
          }
          check(s"step$step upsert(${delta.size})")
        case 3 => // full compaction: layout only
          if (model.nonEmpty) EncodeJob.compact(spark, out, cfg)
          check(s"step$step compact")
        case 4 => // fragmentation-selected compaction: layout only
          val frag = if (model.nonEmpty) EncodeJob.fragmentedPartIds(spark, out, cfg) else Seq.empty
          if (frag.nonEmpty) EncodeJob.compact(spark, out, cfg, partIds = Some(frag))
          check(s"step$step fragsel(${frag.size})")
      }
    }

    // end state must also serve point reads consistently with the model
    val probe = rnd.shuffle(model.keys.toIndexedSeq.sorted).take(20) :+
      "https://never-stored.example/"
    val looked = DecodeJob.lookupUrls(spark, out, probe).collect()
    val gotKeys = looked.map(key).sorted.toSeq
    val wantKeys = probe.flatMap(model.get).map(key).sorted
    if (gotKeys != wantKeys) {
      val g = gotKeys.toSet; val w = wantKeys.toSet
      java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/walk_debug.txt"),
        (s"got=${gotKeys.size} want=${wantKeys.size}\n" +
          s"got-only:\n${(g -- w).mkString("\n")}\nwant-only:\n${(w -- g).mkString("\n")}")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    assert(gotKeys == wantKeys, s"[seed=$seed] lookupUrls != model (diff in /tmp/walk_debug.txt)")
  }
}
