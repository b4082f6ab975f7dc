package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8

/** The bit-identical + size gates (BASELINE.json:15): decode the encoded
  * table and prove every column — in particular `text` per `url` — equals
  * the source byte-for-byte, and that total encoded bytes for the
  * BWT-eligible columns stay <= the reference costing (SURVEY.md §2.3).
  */
final case class VerifyReport(
    rows_source: Long,
    rows_decoded: Long,
    mismatched_rows: Long,
    except_violations: Long,
    text_bytes_raw: Long,
    text_bytes_ref_cost: Long,
    text_bytes_encoded: Long,
    size_gate_ok: Boolean
)

object VerifyJob {

  def run(spark: SparkSession, pages: Dataset[Page], outDir: String): VerifyReport = {
    import spark.implicits._

    val decoded = DecodeJob.run(spark, outDir)

    val src = pages.select(
      $"url",
      unix_micros($"warc_ts").as("ts_us"),
      xxhash64($"html").as("html_h"),
      $"text",
      $"lang"
    )
    val dec = decoded.select(
      $"url",
      unix_micros($"warc_ts").as("ts_us"),
      xxhash64($"html").as("html_h"),
      $"text",
      $"lang"
    )

    // equi-join on url: every column must match byte-for-byte
    val joined = src.as("s").join(dec.as("d"), Seq("url"), "full_outer")
    // null-safe equality (<=>) everywhere: null columns are legitimate
    // values and must compare equal to themselves, while a row missing on
    // one side of the full-outer join still registers as a mismatch
    val mismatches = joined.filter(
      !($"s.ts_us" <=> $"d.ts_us") ||
        !($"s.html_h" <=> $"d.html_h") ||
        !($"s.text" <=> $"d.text") ||
        !($"s.lang" <=> $"d.lang")
    ).count()

    // set-level cross-check
    val exceptViolations =
      src.except(dec).count() + dec.except(src).count()

    // size gate on the reference-comparable column (text): engine encoded
    // bytes vs the reference's canonical ASCII-stream costing, computed in
    // a separate pass so the encode hot path never pays for it
    val costs = pages.select($"text").as[String].mapPartitions { it =>
      it.map { t =>
        if (t == null) (0L, 0L)
        else {
          val raw = t.getBytes(UTF_8)
          val (refRle, refMtf) = graft.codec.Pipelines.referenceCosts(raw)
          (raw.length.toLong, math.min(refRle, refMtf))
        }
      }
    }.toDF("raw", "ref").agg(sum($"raw"), sum($"ref")).first()
    // an empty source dataset sums to null (e.g. confirming a full wipe)
    val rawBytes = if (costs.isNullAt(0)) 0L else costs.getLong(0)
    val refBytes = if (costs.isNullAt(1)) 0L else costs.getLong(1)

    // a fully-deleted table has no data files (and an empty scan would
    // sum to null): verify must be able to confirm a wipe emptied it
    val encodedTextBytes =
      if (!EncodeJob.hasCommittedChunks(spark, outDir)) 0L
      else {
        val r = TableScan.chunks(spark, outDir)
          .agg(sum($"text.bytes_out")).first()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }

    VerifyReport(
      rows_source = pages.count(),
      rows_decoded = decoded.count(),
      mismatched_rows = mismatches,
      except_violations = exceptViolations,
      text_bytes_raw = rawBytes,
      text_bytes_ref_cost = refBytes,
      text_bytes_encoded = encodedTextBytes,
      size_gate_ok = encodedTextBytes <= refBytes
    )
  }
}
