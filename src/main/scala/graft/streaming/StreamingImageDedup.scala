package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.MultimodalOps

/** Streaming MEDIA dedup: image payloads ARRIVE as a stream and each
  * micro-batch is deduplicated against a precomputed perceptual-hash
  * index of the existing corpus (MultimodalOps.phashIndex) — the
  * multimodal rendition of StreamingDedup's text path, with the same
  * economics turned further in streaming's favor: the static side is
  * one (hash, canonical) row per DISTINCT perceptual class, and the
  * arriving side ships 8 bytes per image into the join after a
  * per-partition-amortized decode. No pixel ever shuffles; no
  * cross-batch state exists (a batch's hashes are self-contained), so
  * batch boundaries cannot change any verdict.
  *
  * Verdicts go through the [[MicroBatch.startSink]] per-batch sink, so
  * an at-least-once replay rewrites its own batch directory.
  */
object StreamingImageDedup {

  /** Start the image-dedup stream: verdicts (doc_id, phash,
    * matched_old, kept) land under `outPath/batch=<id>/`. `index`
    * should be persisted by the caller — it is consumed once per
    * micro-batch. */
  def start(newImages: DataFrame, index: DataFrame,
      checkpointDir: String, outPath: String): StreamingQuery =
    MicroBatch.startSink(newImages, "graft-streaming-image-dedup", checkpointDir) { b =>
      Seq(outPath -> MultimodalOps.phashVerdicts(b, index))
    }
}
