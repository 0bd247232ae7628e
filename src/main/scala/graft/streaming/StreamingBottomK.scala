package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming bottom-k sampler: maintains an EXACT uniform k-subset of
  * everything that has ever arrived — the streaming rendition of the
  * batch `bottomk_sample` (PipelineOps.bottomkSample), and the textbook
  * use of bottom-k's merge property: the bottom-k of a union is the
  * bottom-k of the parts' bottom-ks, so per batch the state update is
  * `bottomK(state ∪ bottomK(batch))` — k rows of state, k candidate
  * rows per batch, NEVER the full history. At any instant the state is
  * exactly what the batch sampler would produce over all events so far
  * (StreamingSpec proves bit-parity), which no reservoir scheme run per
  * batch gives you.
  *
  * State is a k-row snapshot in the [[MicroBatch]] snapshot store, so
  * an at-least-once replay recomputes from the same predecessor instead
  * of re-sampling — idempotent by construction.
  */
object StreamingBottomK {

  /** Sample size (matches the batch sampler's contract). */
  val K = 100

  /** Seeded hash over the event id — the same md5 idiom as the batch
    * sampler family, so the sample is a fixed uniform draw per event,
    * reproducible across replays and engines. */
  private def hashed(batch: DataFrame): DataFrame =
    batch.select(col("event_id"),
      expr("cast(conv(substring(md5(concat('btk:', cast(event_id as string))), " +
        "1, 7), 16, 10) as bigint)").as("hk"))

  private def bottomK(df: DataFrame): DataFrame =
    df.orderBy(col("hk"), col("event_id")).limit(K)

  /** The newest committed k-row sample (for readers). */
  def state(spark: SparkSession, statePath: String): DataFrame =
    MicroBatch.snapshot(spark, statePath)

  def start(events: DataFrame, statePath: String,
      checkpointDir: String): StreamingQuery =
    MicroBatch.startSnapshots(events, "graft-streaming-bottomk", statePath, checkpointDir) {
      (batch, prev) =>
        val fresh = bottomK(hashed(batch))
        prev.fold(fresh)(p => bottomK(p.unionByName(fresh)))
    }
}
