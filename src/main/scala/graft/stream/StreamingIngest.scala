package graft.stream

import graft.functions.textStats
import graft.ops.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ingest filter — the continuous-intake twin of q35's batch
  * curation, composed from the engine's certified parts in the order a
  * training-data firehose actually applies them:
  *
  *  1. quality gate  — too-short documents drop (the q35 `too_short`
  *     rule via the codegen [[graft.functions.TextStats]] expression);
  *  2. PII redaction — [[TextOps.redactPii]]'s patterns scrub the text
  *     BEFORE it can reach state or a sink;
  *  3. exact dedup   — [[StreamingDedup]]'s watermark-bounded
  *     first-occurrence-wins on the hash of the REDACTED text (two
  *     documents differing only in PII are duplicates after scrubbing
  *     — hashing pre-redaction would let them both through).
  *
  * Every stage is stateless per-row except the final dedup, whose
  * state is bounded by the watermark horizon — so the composition
  * inherits exactly the state bound [[StreamingDedup]] documents and
  * adds none. Near-dup resolution stays batch-side (q32's fixpoint has
  * no incremental form; the streaming approximation is
  * [[StreamingNearDedup]]'s band index).
  *
  * Emits the surviving rows as (ts, doc_id, clean_text, n_redacted)
  * plus the content hash the dedup keyed on.
  */
object StreamingIngest {

  /** `docs` needs (ts: timestamp, doc_id, text). */
  def ingestStream(docs: DataFrame, minTokens: Int = 5,
                   horizon: String = "1 hour"): DataFrame = {
    val (cleaned, counts) = TextOps.redactColumns
    // one stateless projection carries gate + redaction — NOT a join
    // of two derivations of the stream (that would plan a
    // stream-stream join and demand its time-interval machinery)
    val clean = docs
      .filter(textStats(col("text")).getField("n_tokens") >= minTokens)
      .select(col("ts"), col("doc_id"),
        cleaned.as("text"), counts.as("n_redacted"))
    StreamingDedup.dedupStream(clean, horizon)
      .withColumnRenamed("text", "clean_text")
  }
}
