package graft.streaming

import org.apache.spark.sql.Dataset

import graft.streaming.ConsumerPipeline.RawEvent

/** Streaming analog of the batch `winsorize_values` query: arriving
  * events are clipped against the OFFLINE per-type [p01, p99] cut
  * table (`AnalyticOps.winsorCuts`, a |types|-row artifact collected
  * once and broadcast with the closure) — the serve-time shape of every
  * robust-preprocessing step: statistics train offline, the stream pays
  * one comparison pair per record.
  *
  * Zero cross-batch state: each record's output depends only on the
  * static cuts, so batch boundaries cannot change any result and the
  * parity contract is exact — the union of per-batch outputs over any
  * split of the input equals the batch query over the whole input
  * (StreamingSpec asserts bit-equality on real table data, two waves
  * vs one batch). A type absent from the cut table passes through
  * unclipped (clip bounds default to ±∞) — a DELIBERATE divergence
  * from the batch `winsorize_values`, whose inner join against the cut
  * table DROPS unknown types: at serve time an unseen type is late
  * signal, not deletable data, so it flows through unmodified for a
  * downstream policy to handle. The two agree exactly whenever the cuts
  * were trained on the same corpus the stream replays (every type
  * present), which is what the parity spec exercises.
  *
  * Determinism: the clip is min/max against round-6 cuts; the closing
  * round-6 replays Catalyst's `Round` (BigDecimal HALF_UP), so values
  * are bit-identical to the batch column. Non-finite values (NaN/±∞ —
  * impossible for the DECIMAL-backed events table, possible for a
  * foreign feed) skip the BigDecimal replay, which would throw on them,
  * and emerge as themselves: NaN compares false to both cuts so the
  * min/max clip already passes it through, and ±∞ clips to the cut. */
object StreamingWinsorize extends CatalystRounding {

  case class Winsorized(event_id: Long, event_type: String, value: Double,
      value_winsorized: Double)

  def apply(events: Dataset[RawEvent],
      cuts: Map[String, (Double, Double)]): Dataset[Winsorized] = {
    import events.sparkSession.implicits._
    events.map { e =>
      val (lo, hi) = cuts.getOrElse(e.event_type,
        (Double.NegativeInfinity, Double.PositiveInfinity))
      Winsorized(e.event_id, e.event_type, e.value,
        round6(math.min(math.max(e.value, lo), hi)))
    }
  }

  /** Collect the offline cut artifact (|types| rows — metadata). */
  def offlineCuts(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Map[String, (Double, Double)] =
    graft.operators.AnalyticOps.winsorCuts(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
}
