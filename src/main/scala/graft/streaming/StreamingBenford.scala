package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.streaming.ConsumerPipeline.RawEvent

/** Serving-time Benford first-digit monitor — the streaming twin of the
  * batch `benford_mad` audit's digit kernel (RelationalOps.benfordMad),
  * watching a live feed's value digits drift away from the law (a feed
  * that starts synthesizing or truncating amounts flattens its digit
  * profile long before any downstream metric moves).
  *
  * State is NINE longs total (one count per leading digit) — the
  * cheapest constant-state monitor in the streaming family; each event
  * costs one BigDecimal cents rounding + one string head. The per-digit
  * counts emit in Update mode after every micro-batch; [[profileRows]]
  * derives the Benford profile (observed/expected share + absolute
  * deviation, round-6) from any emitted snapshot with the IDENTICAL
  * double chain the batch audit and its DuckDB oracle state.
  *
  * Parity contract: the digit of each value is the batch chain replayed
  * — `round(value·100)` as BigDecimal HALF_UP (Spark's `round`
  * semantics, NOT math.round), exact integer decimal rendering, first
  * character. Zero/negative/non-finite values are excluded exactly as
  * the batch audit's money columns exclude them by construction
  * (documented filter, flag-through is meaningless for a digit law).
  * StreamingSpec proves final streamed counts equal one batch pass over
  * the same rows across a two-wave split, and that [[profileRows]]
  * matches the batch expression chain value-for-value.
  */
object StreamingBenford extends CatalystRounding {

  case class DigitCount(digit: Int, n: Long)

  case class DigitRow(digit: Int, n: Long, obs_share: Double,
      exp_share: Double, abs_dev: Double)

  /** Leading digit of the value's exact cents — the batch digit chain
    * replayed (round(v·100) HALF_UP → decimal rendering → first char). */
  private[graft] def leadingDigit(v: Double): Int =
    toCents(v * 100.0).toString.charAt(0) - '0'

  def profile(events: Dataset[RawEvent]): Dataset[DigitCount] = {
    import events.sparkSession.implicits._
    events
      .filter(e => !e.value.isNaN && !e.value.isInfinite && e.value > 0.0)
      .map(e => leadingDigit(e.value))
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (d: Int, it: Iterator[Int], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + it.size
          state.update(n)
          DigitCount(d, n)
      }
  }

  /** Benford profile from a digit-count snapshot — the batch audit's
    * share/expectation/deviation chain (round-6 each, identical
    * operand order) over the streamed counts. */
  def profileRows(counts: Map[Int, Long]): Seq[DigitRow] = {
    val tot = counts.values.sum
    (1 to 9).flatMap { d =>
      counts.get(d).map { n =>
        val obs = round6(n.toDouble / tot.toDouble)
        val exp = round6(math.log((d + 1).toDouble / d.toDouble) / math.log(10.0))
        DigitRow(d, n, obs, exp, round6(math.abs(obs - exp)))
      }
    }
  }
}
