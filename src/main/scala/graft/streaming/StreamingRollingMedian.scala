package graft.streaming

import org.apache.spark.sql.Dataset

import graft.operators.AnalyticOps
import graft.streaming.ConsumerPipeline.RawEvent

/** Streaming analog of the batch `rolling_median` query
  * (AnalyticOps.rollingMedian): each arriving event is medianed against
  * the trailing [[AnalyticOps.RollMedianW]] values of its user, carried
  * across micro-batches in the same fixed-size ring [[StreamingEwma]]
  * uses — the robust serve-time smoother (spikes the EWMA would chase
  * leave the median unmoved).
  *
  * Scale shape: identical to StreamingEwma — ≤ W longs of state per
  * user, one O(W log W) sort per event, keys partition across
  * executors.
  *
  * Parity contract: the arithmetic replays the batch query step for
  * step — cents via the identical HALF_UP round, the two middle
  * elements of the SORTED ring by the same integer indices, one double
  * division by 200.0 and the Catalyst-replay round-6. A stream fed
  * per-user in (ts, event_id) order emits bit-identical medians to the
  * batch window; StreamingSpec asserts that equality across a two-wave
  * split. Non-finite values flag through as their own median and do
  * not poison the ring (the StreamingEwma policy). */
object StreamingRollingMedian extends CatalystRounding {

  case class Medianed(event_id: Long, user_id: Long, value: Double,
      rolling_median: Double)

  def smooth(events: Dataset[RawEvent],
      window: Int = AnalyticOps.RollMedianW): Dataset[Medianed] = {
    import events.sparkSession.implicits._
    MicroBatch.foldInEventOrder(events, (e: RawEvent) => e.user_id,
        StreamingEwma.Ring(Vector.empty)) {
      (uid: Long, ring: StreamingEwma.Ring, e: RawEvent) =>
        if (e.value.isNaN || e.value.isInfinite)
          (ring, Some(Medianed(e.event_id, uid, e.value, e.value)))
        else {
          val cents = (ring.cents :+ toCents(e.value * 100.0)).takeRight(window)
          val win = cents.sorted
          val k = win.length
          val med = (win((k - 1) / 2) + win(k / 2)).toDouble / 200.0
          (StreamingEwma.Ring(cents), Some(Medianed(e.event_id, uid, e.value, round6(med))))
        }
    }
  }
}
