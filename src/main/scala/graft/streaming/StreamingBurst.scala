package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live bot-burstiness screening — the incremental twin of x_bot_burst:
  * as events stream in, each user's inter-event gaps accumulate into
  * (n_gaps, n_burst, min_gap_ms) running totals and an updated snapshot
  * row is emitted for every user that gained a gap in the batch. The
  * burst rule is the batch query's exact integer arithmetic (gap <
  * 600000 ms, burst_bp = n_burst·10000 DIV n_gaps), so the final
  * snapshot per user is bit-identical to the batch aggregate.
  *
  * State is FOUR longs per user (last event ms + three counters) —
  * bounded by the user population, independent of event volume; the
  * abuse case x_bot_burst screens for (a bot firing millions of events)
  * grows state not at all.
  *
  * Folded under the [[KeyedFold]] in-order contract, sorted by
  * (ms, event_id) within a batch — the batch window's exact order.
  */
object StreamingBurst {

  final case class BurstState(
      lastMs: Long, nGaps: Long, nBurst: Long, minGap: Long)

  /** Running per-user snapshot; the latest row per user equals the
    * batch x_bot_burst aggregate over the same prefix of events. */
  final case class BurstStat(
      user_id: Long, n_gaps: Long, n_burst: Long, min_gap_ms: Long,
      burst_bp: Long)

  /** events: (user_id, event_id, ms) — ms = epoch millis. */
  def stats(events: DataFrame): Dataset[BurstStat] = {
    import events.sparkSession.implicits._
    val rows = events.select($"user_id".cast("long"), $"event_id".cast("long"),
        $"ms".cast("long"))
      .as[(Long, Long, Long)]
    KeyedFold(rows)(_._1).fold[BurstState, BurstStat](
        order = Some(Ordering.by(r => (r._3, r._2))),
        // one snapshot per user that gained a gap in this batch
        summary = { (user, before, s, emit) =>
          if (s.nGaps > before.fold(0L)(_.nGaps))
            emit(BurstStat(user, s.nGaps, s.nBurst, s.minGap,
              s.nBurst * 10000L / s.nGaps))
          s
        }) { (_, prev, r, _) =>
      val ms = r._3
      prev match {
        case None => BurstState(ms, 0L, 0L, Long.MaxValue)
        case Some(s) =>
          val gap = ms - s.lastMs
          BurstState(ms, s.nGaps + 1L,
            s.nBurst + (if (gap < 600000L) 1L else 0L), math.min(s.minGap, gap))
      }
    }
  }
}
