package graft.streaming

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.Dataset

import graft.operators.AnalyticOps
import graft.streaming.ConsumerPipeline.RawEvent

/** Streaming analog of the batch `anomaly_zscore` query
  * (AnalyticOps.anomalyZscore): each arriving event is scored against
  * the trailing [[AnalyticOps.ZscoreWindow]] values of its event_type,
  * carried across micro-batches in a fixed-size ring per key.
  *
  * Scale shape: state is exactly `window` doubles per event_type —
  * constant per key, independent of stream length — in the checkpointed
  * state store; scoring is O(window) per event with window=50 fixed.
  * Keys partition across executors like any stateful op.
  *
  * Parity contract: the arithmetic replays the batch query step for
  * step — values decimal-quantized at scale 2 (Spark's
  * `cast(double as decimal(18,2))` is HALF_UP), trailing sums exact in
  * BigDecimal, then the identical double expression chain
  * (`mean = s1/n`, `var = (s2 - s1²/n)/n`, `z = (value-mean)/sqrt(var)`)
  * — every double step is correctly-rounded IEEE, so a stream fed in
  * (ts, event_id) order emits bit-identical scores to the batch window.
  * StreamingSpec asserts that equality on real table data. Ordering
  * within a micro-batch is restored by sorting the group's iterator;
  * ACROSS batches the source must deliver each key's events in event
  * order (the same contract every trailing-window stream has).
  */
object StreamingAnomaly {

  case class Anomaly(event_id: Long, event_type: String, value: Double,
      mean: Double, z: Double)

  /** Ring of the most recent `window` quantized values (oldest first). */
  case class Ring(vals: Vector[Double])

  def detect(events: Dataset[RawEvent],
      window: Int = AnalyticOps.ZscoreWindow,
      threshold: Double = 3.0): Dataset[Anomaly] = {
    import events.sparkSession.implicits._
    MicroBatch.foldInEventOrder(events, (e: RawEvent) => e.event_type, Ring(Vector.empty)) {
      (etype: String, ring: Ring, e: RawEvent) =>
        val hit = if (ring.vals.length < window) None else {
          val ds = ring.vals.map(v => BigDecimal(v).setScale(2, RoundingMode.HALF_UP))
          val s1 = ds.sum.toDouble
          val s2 = ds.map(d => d * d).sum.toDouble
          val mean = s1 / window
          val variance = (s2 - s1 * s1 / window) / window
          // same guard as the batch window: a zero-variance frame
          // (50 identical values; the double can land ulps negative)
          // has no defined z-score — both paths drop the row
          val z = (e.value - mean) / math.sqrt(variance)
          if (variance > 1e-12 && math.abs(z) > threshold)
            Some(Anomaly(e.event_id, etype, e.value, mean, z))
          else None
        }
        (Ring((ring.vals :+ e.value).takeRight(window)), hit)
    }
  }
}
