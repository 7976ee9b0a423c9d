package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Incremental funnel tracking: the batch q50 (view → click → purchase
  * with strict event-time progression) as a per-user state machine over
  * `mapGroupsWithState`. Each trigger emits the user's current stage;
  * downstream reach counts are a trivial aggregation of the latest row
  * per user.
  *
  * State per user is three optional timestamps — O(1) regardless of
  * event volume, so 100 TB of events hold |users| state entries.
  *
  * Ordering contract: events are processed in event-time order within
  * each micro-batch (sorted here); stage transitions are exact when each
  * user's events arrive in non-decreasing event-time order across
  * micro-batches (log replay / kafka-per-key ordering). A click seen
  * before its user's first view never advances the funnel — same strict
  * semantics as the batch twin.
  */
object StreamingFunnel {

  case class Ev(user_id: Long, ts: Timestamp, event_type: String)

  case class FunnelState(tView: Option[Long], tClick: Option[Long], tPurchase: Option[Long]) {
    def stage: Int =
      if (tPurchase.isDefined) 3 else if (tClick.isDefined) 2 else if (tView.isDefined) 1 else 0
  }

  case class UserFunnel(user_id: Long, stage: Int)

  def funnel(events: Dataset[Ev]): Dataset[UserFunnel] = {
    implicit val outEnc = Encoders.product[UserFunnel]
    implicit val stateEnc = Encoders.product[FunnelState]
    implicit val longEnc = Encoders.scalaLong

    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Ev], state: GroupState[FunnelState]) => {
          def toMicros(t: Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

          var s = state.getOption.getOrElse(FunnelState(None, None, None))
          rows.toVector.sortBy(e => toMicros(e.ts)).foreach { e =>
            val t = toMicros(e.ts)
            e.event_type match {
              case "view" if s.tView.isEmpty =>
                s = s.copy(tView = Some(t))
              case "click" if s.tClick.isEmpty && s.tView.exists(t > _) =>
                s = s.copy(tClick = Some(t))
              case "purchase" if s.tPurchase.isEmpty && s.tClick.exists(t > _) =>
                s = s.copy(tPurchase = Some(t))
              case _ => ()
            }
          }
          state.update(s)
          UserFunnel(userId, s.stage)
        })
  }
}
