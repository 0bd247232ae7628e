package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextOps

/** Streaming decontamination: training documents ARRIVE as a stream and
  * each micro-batch is probed against a PREBUILT index of the eval
  * split's rare shingles (TextOps.evalShingleIndex) — the production
  * shape of benchmark decontamination (the eval sets are fixed and
  * indexed offline; the firehose of candidate training data is what
  * streams).
  *
  * Incidents — (arriving train doc, eval doc, shared rare shingles ≥
  * the batch path's overlap floor) — are computed entirely within each
  * micro-batch: a doc's shingle set is self-contained, and a match
  * requires membership in the (already df-capped) eval index, so NO
  * cross-batch state and NO stream-side corpus statistics are needed,
  * and batch boundaries cannot change any verdict (StreamingSpec proves
  * the union of streamed incidents reproduces the batch `decontaminate`
  * query's per-eval contamination report exactly). Incidents go through
  * the [[MicroBatch.startSink]] per-batch sink, so an at-least-once
  * replay rewrites its own batch directory.
  */
object StreamingDecontaminate {

  /** Start the decontamination stream: incidents (train_id, eval_id,
    * overlap) land under `outPath/batch=<id>/`. `evalIdx` should be
    * persisted by the caller — it is consumed once per micro-batch. */
  def start(newDocs: DataFrame, evalIdx: DataFrame,
      checkpointDir: String, outPath: String): StreamingQuery =
    MicroBatch.startSink(newDocs, "graft-streaming-decontaminate", checkpointDir) { b =>
      Seq(outPath -> TextOps.decontamIncidents(b, evalIdx))
    }
}
