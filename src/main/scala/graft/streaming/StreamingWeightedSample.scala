package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming WEIGHTED sampler (Efraimidis–Spirakis A-Res): maintains an
  * exact weighted k-subset of everything that has ever arrived — the
  * streaming rendition of the batch `weighted_sample`
  * (PipelineOps.weightedSample), completing the sampler quartet
  * (batch/streaming × uniform/weighted). A-Res keys have the same merge
  * property bottom-k hashes do — the top-k of a union is the top-k of
  * the parts' top-ks — so the per-batch update is
  * `topK(state ∪ topK(batch))`: k rows of state FOREVER, k candidate
  * rows per batch, never the full history. At any instant the state is
  * exactly what the batch A-Res sampler would produce over all events
  * so far (StreamingSpec proves bit-parity), with inclusion probability
  * rising with each record's weight.
  *
  * Determinism: each record's key exp(ln(u)/w) uses the fixed
  * hash-uniform u of its id (the batch sampler's idiom), so replays
  * re-derive identical keys — a true RNG reservoir cannot replay.
  * State is a k-row snapshot in the [[MicroBatch]] snapshot store:
  * at-least-once replays recompute from the same predecessor,
  * idempotent by construction.
  */
object StreamingWeightedSample {

  /** Sample size (matches the batch sampler's contract). */
  val K = 100

  /** A-Res key over (id, weight): exp(ln(u)/w) with u the fixed
    * hash-uniform draw of the id — the IDENTICAL chain as the batch
    * sampler, so stream state and batch recomputation agree bitwise. */
  private def keyed(batch: DataFrame): DataFrame =
    batch.select(col("event_id"), col("w"),
      round(exp(log((expr("cast(conv(substring(md5(concat('wks:', " +
        "cast(event_id as string))), 1, 7), 16, 10) as bigint)") + lit(0.5))
        / lit(268435456.0)) / col("w").cast("double")), 6).as("wkey"))

  private def topK(df: DataFrame): DataFrame =
    df.orderBy(col("wkey").desc, col("event_id")).limit(K)

  /** The newest committed k-row weighted sample (for readers). */
  def state(spark: SparkSession, statePath: String): DataFrame =
    MicroBatch.snapshot(spark, statePath)

  /** `events` must carry `event_id` and a positive weight column `w`. */
  def start(events: DataFrame, statePath: String,
      checkpointDir: String): StreamingQuery =
    MicroBatch.startSnapshots(events, "graft-streaming-weighted-sample", statePath, checkpointDir) {
      (batch, prev) =>
        val fresh = topK(keyed(batch))
        prev.fold(fresh)(p => topK(p.unionByName(fresh)))
    }
}
