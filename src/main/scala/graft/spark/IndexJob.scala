package graft.spark

import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.charset.StandardCharsets.UTF_8

import graft.codec.FmIndex

/** Build-once/search-many FM-index tables.
  *
  * `build` writes a parquet table of serialized per-document FM-indexes
  * (narrow map, no shuffle — index rows live wherever their documents
  * live). `search` runs broadcast patterns against the stored indexes
  * without touching the original text — the cluster-scale analogue of the
  * reference keeping the SA inside the index so locate needs no re-scan
  * (CHANGELOG.md:104-106).
  */
object IndexJob {

  final case class IndexRow(doc_key: String, n_bytes: Long, index_bytes: Long, index: Array[Byte])

  /** `saSampleBits = 0` persists the full SA (reference parity,
    * CHANGELOG.md:104-106: index ~2-5x text). `k > 0` persists ~1/2^k of
    * the SA and the BWT compressed as the text column compresses it
    * (format v3, [[FmIndex.serialize]]): about 0.56x the text on web pages
    * at the default `k = 5`, where a full-SA index table would be a
    * multiple of the corpus itself. Locate pays <= 2^k LF steps per
    * occurrence, and each search decodes the BWT and rebuilds the Occ
    * checkpoints. The per-doc `index_bytes` column is the lineage record
    * of what the choice cost.
    */
  def build(
      spark: SparkSession,
      docs: Dataset[(String, String)],
      outDir: String,
      saSampleBits: Int = 5
  ): Unit = {
    import spark.implicits._
    // parallelism floor (guide §2): a sub-parallelism input (one small
    // parquet split) would build every SA on one core — and write a
    // single-file index table that caps every later search scan at one
    // task; corpus-scale inputs pass through untouched
    graft.pipeline.Dedup.spread(docs).mapPartitions { it =>
      it.map { case (key, text) =>
        val raw = text.getBytes(UTF_8)
        val payload = FmIndex.build(raw).serialize(saSampleBits)
        IndexRow(key, raw.length.toLong, payload.length.toLong, payload)
      }
    }.write.mode("overwrite")
      .option("parquet.enable.dictionary", "false")
      .parquet(outDir)
  }

  def search(
      spark: SparkSession,
      indexDir: String,
      patterns: Seq[String],
      compat: Boolean = false
  ): Dataset[SearchHit] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(patterns.map(p => (p, p.getBytes(UTF_8))))
    TableScan[IndexRow](spark, indexDir).as[IndexRow].mapPartitions { it =>
      val pats = bc.value
      it.flatMap { row =>
        val fm = FmIndex.deserialize(row.index)
        pats.iterator.map { case (p, pb) =>
          // one backward search: the count is the located rows' number
          val positions = fm.locate(pb, compat)
          SearchHit(
            row.doc_key,
            p,
            positions.length.toLong,
            if (positions.isEmpty) None else Some(positions.min.toLong),
            positions.map(_.toLong).toSeq
          )
        }
      }
    }
  }
}
