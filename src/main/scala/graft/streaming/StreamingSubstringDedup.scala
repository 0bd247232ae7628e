package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextOps

/** Streaming exact-substring dedup: candidate training documents ARRIVE
  * as a stream and each micro-batch's k-token windows are probed
  * against a PREBUILT index of the reference corpus's distinct grams
  * ([[TextOps.corpusGramIndex]]) — the production shape (the corpus you
  * must not duplicate against is fixed and indexed offline; the
  * firehose of candidates is what streams), and the streaming twin of
  * the batch `substring_spans` query exactly as StreamingDecontaminate
  * twins `decontaminate`.
  *
  * A document's windows are self-contained and a hit needs only
  * membership in the offline index, so there is NO cross-batch state
  * and batch boundaries cannot change a single span (StreamingSpec
  * proves the union of streamed spans equals the driver-computed
  * reference per arriving doc). Spans go through the
  * [[MicroBatch.startSink]] per-batch sink, so an at-least-once replay
  * rewrites its own batch directory. At 100 TB the
  * exact gram index becomes a bloom filter (the decontaminate_bloom
  * move) — the probe plan is unchanged.
  */
object StreamingSubstringDedup {

  /** Start the span stream: (doc_id, start_pos, end_pos, span_tokens,
    * n_windows) rows land under `outPath/batch=<id>/`. `gramIdx` should
    * be persisted by the caller — it is consumed once per micro-batch. */
  def start(newDocs: DataFrame, gramIdx: DataFrame,
      checkpointDir: String, outPath: String): StreamingQuery =
    MicroBatch.startSink(newDocs, "graft-streaming-substring-dedup", checkpointDir) { b =>
      Seq(outPath -> TextOps.substrSpansAgainst(b, gramIdx))
    }
}
