package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming PER-GROUP quota sampler: maintains, for every group seen
  * so far, the exact [[PerGroup]] records with the smallest seeded hash
  * — the streaming rendition of the batch `quota_sample`
  * (PipelineOps.quotaSample), giving a continuously-balanced
  * uniform-without-replacement sample per source/language/shard while
  * the stream runs (the curation budget that must hold EXACTLY, where
  * Bernoulli rates only hold in expectation). Bottom-k's merge property
  * applies PER GROUP: the per-group bottom-k of a union is the
  * per-group bottom-k of the parts' bottom-ks, so the state update is
  * `topPerGroup(state ∪ topPerGroup(batch))` — state is groups × k rows
  * forever (group cardinality is a corpus property: sources/languages,
  * not data volume), per-batch work is one rank window over
  * (state + batch-survivors)-sized frames.
  *
  * Determinism and state follow [[StreamingBottomK]]: fixed
  * hash-uniform draw per id (replays re-derive it), snapshots in the
  * [[MicroBatch]] snapshot store. StreamingSpec proves bit-parity with
  * a batch recomputation over the union of all arrival waves. */
object StreamingQuotaSample {

  /** Records kept per group (matches the batch sampler's contract). */
  val PerGroup = 10

  /** Input contract: `id` (the sampled unit's key) + `grp` (the quota
    * dimension — source, language, shard). */
  private def hashed(batch: DataFrame): DataFrame =
    batch.select(col("id"), col("grp"),
      expr("cast(conv(substring(md5(concat('qta:', cast(id as string))), " +
        "1, 7), 16, 10) as bigint)").as("hk"))

  private def topPerGroup(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("grp")).orderBy(col("hk"), col("id"))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PerGroup).drop("rn")
  }

  /** The newest committed per-group sample (for readers). */
  def state(spark: SparkSession, statePath: String): DataFrame =
    MicroBatch.snapshot(spark, statePath)

  def start(records: DataFrame, statePath: String,
      checkpointDir: String): StreamingQuery =
    MicroBatch.startSnapshots(records, "graft-streaming-quota-sample", statePath, checkpointDir) {
      (batch, prev) =>
        val fresh = topPerGroup(hashed(batch))
        prev.fold(fresh)(p => topPerGroup(p.unionByName(fresh)))
    }
}
