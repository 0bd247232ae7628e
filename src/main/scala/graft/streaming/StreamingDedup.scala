package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextOps

/** Streaming continuous-ingestion dedup: documents ARRIVE as a stream,
  * and each micro-batch is deduplicated against a precomputed banded
  * signature index of the existing corpus (TextOps.signatureIndex).
  *
  * The per-batch kernel is the same band-join-against-the-index shape as
  * the batch `dedup_incremental` query — per-batch cost tracks the DELTA
  * size times bucket occupancy, never the corpus pair space. The index
  * side is static inside the join (stream-static), so no streaming
  * aggregation state is needed. Verdicts go through the
  * [[MicroBatch.startSink]] per-batch sink, so a replayed batch rewrites
  * its own directory instead of appending duplicates; the batch is
  * persisted because the kernel reads it twice (signature pipeline +
  * the verdict left-join's id list).
  */
object StreamingDedup {

  /** Start the dedup stream: verdicts (doc_id, matched_old, kept) land
    * under `outPath/batch=<id>/`. `corpusBands` should be persisted by
    * the caller — it is consumed once per micro-batch. */
  def start(newDocs: DataFrame, corpusBands: DataFrame,
      checkpointDir: String, outPath: String): StreamingQuery =
    MicroBatch.startSink(newDocs, "graft-streaming-dedup", checkpointDir) { b =>
      Seq(outPath -> TextOps.matchVerdicts(b, corpusBands))
    }
}
