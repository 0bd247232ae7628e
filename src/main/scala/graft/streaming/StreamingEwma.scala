package graft.streaming

import org.apache.spark.sql.Dataset

import graft.operators.AnalyticOps
import graft.streaming.ConsumerPipeline.RawEvent

/** Streaming analog of the batch `ewma_smooth` query
  * (AnalyticOps.ewmaSmooth): each arriving event is smoothed against
  * the trailing [[AnalyticOps.EwmaWindow]] values of its user, carried
  * across micro-batches in a fixed-size ring per key — the serve-time
  * shape of a metrics smoother (train nothing; the window IS the
  * state).
  *
  * Scale shape: state is ≤ window longs per user — constant per key,
  * independent of stream length — in the checkpointed state store;
  * each event costs one O(window) integer fold. Keys partition across
  * executors like any stateful op, and users scale with the data.
  *
  * Parity contract: the arithmetic replays the batch query step for
  * step — values to cents via the identical HALF_UP round (Spark's
  * `round(value*100, 0)` is BigDecimal HALF_UP, NOT math.round: they
  * differ on negative half-cents a foreign feed could carry), the
  * weighted sum the exact BIGINT fold Σ cents_i·2^i (α = ½ weights are
  * powers of two), then the single double division and Catalyst-replay
  * round-6. A stream fed per-user in (ts, event_id) order emits
  * bit-identical smoothed values to the batch window; StreamingSpec
  * asserts that equality on real table data across a two-wave split.
  * Non-finite values (impossible for the DECIMAL-backed events table)
  * would throw in the BigDecimal cents replay exactly as they have no
  * batch counterpart — the stream passes them through as their own
  * ewma instead, flagged for a downstream policy.
  */
object StreamingEwma extends CatalystRounding {

  case class Smoothed(event_id: Long, user_id: Long, value: Double,
      ewma: Double)

  /** Ring of the most recent ≤ window cent values (oldest first). */
  case class Ring(cents: Vector[Long])

  def smooth(events: Dataset[RawEvent],
      window: Int = AnalyticOps.EwmaWindow): Dataset[Smoothed] = {
    import events.sparkSession.implicits._
    MicroBatch.foldInEventOrder(events, (e: RawEvent) => e.user_id, Ring(Vector.empty)) {
      (uid: Long, ring: Ring, e: RawEvent) =>
        if (e.value.isNaN || e.value.isInfinite)
          (ring, Some(Smoothed(e.event_id, uid, e.value, e.value)))
        else {
          val cents = (ring.cents :+ toCents(e.value * 100.0)).takeRight(window)
          val k = cents.length
          var wsum = 0L
          var i = 0
          while (i < k) { wsum += cents(i) << i; i += 1 }
          val ewma = wsum.toDouble / ((math.pow(2.0, k) - 1.0) * 100.0)
          (Ring(cents), Some(Smoothed(e.event_id, uid, e.value, round6(ewma))))
        }
    }
  }
}
