package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state (SURVEY §2.9 absent-row: `mapGroupsWithState`) —
  * the engine-side generalization of the reference's `ADD Log_Length 1`
  * counter (`code/modifier.py:240-249`): arbitrary per-key state maintained
  * incrementally across micro-batches instead of read-modify-write per
  * event.
  */
object Stateful {

  /** Output mode required by mapGroupsWithState. */
  val outputMode: OutputMode = OutputMode.Update()

  final case class UserEvent4(user_id: Long, event_type: String,
      value: Double, event_id: Long)
  final case class ExactTotalsState(n: Long, scaled: Long)
  final case class UserTotalsExact(user_id: Long, n_events: Long,
      total: Double)

  /** Running per-user event count + value total on the decimal(_,4) grid
    * (update-mode snapshot per trigger) — the cross-engine-exact form the
    * `pa_monitor_stream` gate hash-checks. State is one small struct per
    * key, bounded by key cardinality, not stream length: it keeps the
    * total as an exact scaled long (integer adds, order-free), and each
    * emission converts once via `BigDecimal.doubleValue` — the same
    * correctly-rounded decimal→double as the batch `sum(decimal(18,4))
    * .cast(double)`, so the final snapshot equals the batch aggregate
    * BIT-EXACTLY regardless of arrival order.
    */
  def runningUserTotalsExact(
      events: Dataset[UserEvent4]): Dataset[UserTotalsExact] = {
    implicit val outEnc = Encoders.product[UserTotalsExact]
    implicit val stEnc = Encoders.product[ExactTotalsState]
    def toScaled(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[UserEvent4], state: GroupState[ExactTotalsState]) =>
          val prev = state.getOption.getOrElse(ExactTotalsState(0L, 0L))
          var n = prev.n
          var scaled = prev.scaled
          evs.foreach { e => n += 1; scaled = math.addExact(scaled, toScaled(e.value)) }
          state.update(ExactTotalsState(n, scaled))
          UserTotalsExact(uid, n,
            java.math.BigDecimal.valueOf(scaled, 4).doubleValue())
      }
  }
}
