package graft.streaming

import org.apache.spark.sql.Dataset

import graft.streaming.ConsumerPipeline.RawEvent

/** Streaming analog of the batch `cusum_changepoint` detector
  * (AnalyticOps.cusumChangepoint): each arriving event extends its
  * type's cumulative deviation S_t against the OFFLINE per-type moments
  * artifact (`AnalyticOps.cusumMoments`, a |types|-row table collected
  * once and closed over) — the serve-time shape of a level-shift
  * monitor: moments train offline, the stream pays one multiply-divide
  * chain per record, and the alarm (max |S_t| so far) is a driver-side
  * fold over the emitted stats.
  *
  * State is TWO longs per type (row position t, running cent sum) in
  * the checkpointed store — constant per key, independent of stream
  * length; types partition across executors like any stateful op.
  *
  * Parity contract: the arithmetic replays the batch scan step for
  * step — values to cents via the identical HALF_UP round, the running
  * sum exact in Long (the batch's DECIMAL cum and this Long are the
  * same integer, hence the same nearest-double, within the |cum| < 2⁶³
  * headroom both share), and the statistic the IDENTICAL IEEE chain as
  * the engines' shared `CusumStatExpr` string INCLUDING its degenerate
  * CASE (n ≤ 1 or zero variance → 0). A stream fed per-type in
  * (ts, event_id) order emits bit-identical stats to the batch scan,
  * and the per-type argmax over the emitted stats equals the batch
  * changepoint row set; StreamingSpec asserts both across a two-wave
  * split on real table data.
  *
  * Serve-time policy divergences (both flagged, neither throws):
  * a type ABSENT from the moments table is late signal — it emits
  * stat 0 (never an alarm) rather than being dropped; a NON-FINITE
  * value (impossible for the DECIMAL-backed events table) emits its
  * own value as the stat and does NOT advance the type's (t, cum)
  * state, so one poisoned record cannot corrupt the running sum. */
object StreamingCusum extends CatalystRounding {

  case class Scanned(event_id: Long, event_type: String, t: Long, stat: Double)

  /** Per-type running position and exact cent sum. */
  case class CusumState(t: Long, cum: Long)

  /** The shared double chain, replayed in Scala exactly as Catalyst
    * evaluates `CusumStatExpr` (same operand order, same CASE guard). */
  private[graft] def statOf(cum: Double, t: Double, n: Double, sx: Double,
      sxx: Double): Double = {
    val varNum = sxx - sx * sx / n
    if (n <= 1.0 || varNum <= 0.0) 0.0
    else (cum - t * (sx / n)) /
      (math.sqrt(varNum / (n - 1.0)) * math.sqrt(n))
  }

  def scan(events: Dataset[RawEvent],
      moments: Map[String, (Long, Double, Double)]): Dataset[Scanned] = {
    import events.sparkSession.implicits._
    MicroBatch.foldInEventOrder(events, (e: RawEvent) => e.event_type, CusumState(0L, 0L)) {
      (tpe: String, st: CusumState, e: RawEvent) =>
        if (e.value.isNaN || e.value.isInfinite)
          (st, Some(Scanned(e.event_id, tpe, st.t, e.value)))
        else {
          val (n, sx, sxx) = moments.getOrElse(tpe, (0L, 0.0, 0.0))
          val next = CusumState(st.t + 1L, st.cum + toCents(e.value * 100.0))
          (next, Some(Scanned(e.event_id, tpe, next.t,
            statOf(next.cum.toDouble, next.t.toDouble, n.toDouble, sx, sxx))))
        }
    }
  }

  /** Collect the offline moments artifact (|types| rows — metadata). */
  def offlineMoments(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Map[String, (Long, Double, Double)] =
    graft.operators.AnalyticOps.cusumMoments(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
}
