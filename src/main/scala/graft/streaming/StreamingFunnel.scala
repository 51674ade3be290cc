package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live conversion funnel — the incremental twin of x_funnel: events
  * arrive as a stream and every user carries three numbers of state
  * (first view, first qualifying click, first qualifying purchase).
  * A row is emitted whenever a user advances a stage, so a dashboard
  * folds the emitted stream into live per-stage counts.
  *
  * Contract matches the batch query exactly — stage 2 is the first
  * `click` in (t1, t1+24 h], stage 3 the first `purchase` in
  * (t2, t2+72 h] — under the [[KeyedFold]] in-order contract (sorted
  * by timestamp within a batch). Greedy first-match on an ordered
  * stream IS the min, so the streaming state equals the batch
  * min-chaining.
  *
  * State is 3 longs per user — bounded by the user population, not the
  * event volume; at cluster scale it routes to RocksDB like every
  * other stateful projection here (graft.streaming.StateStores).
  */
object StreamingFunnel {

  private val ClickWindowMs = 86400000L    // 24 h, as declared by x_funnel
  private val PurchaseWindowMs = 259200000L // 72 h

  /** (t of first view, t of first in-window click, t of first in-window
    * purchase); 0 = not reached. */
  final case class FunnelState(t1: Long, t2: Long, t3: Long)

  /** Emitted when `user_id` advances to `stage` (1, 2 or 3) at `ms`. */
  final case class StageAdvance(user_id: Long, stage: Int, ms: Long)

  /** events: (user_id, event_type, ms). Emits one StageAdvance per
    * stage transition. */
  def advances(events: DataFrame): Dataset[StageAdvance] = {
    import events.sparkSession.implicits._
    val rows = events.select($"user_id".cast("long"), $"event_type", $"ms".cast("long"))
      .as[(Long, String, Long)]
    KeyedFold(rows)(_._1).fold[FunnelState, StageAdvance](
        order = Some(Ordering.by(_._3))) { (user, prev, r, emit) =>
      val s = prev.getOrElse(FunnelState(0L, 0L, 0L))
      val (_, typ, ms) = r
      if (typ == "view" && s.t1 == 0L) {
        emit(StageAdvance(user, 1, ms))
        s.copy(t1 = ms)
      } else if (typ == "click" && s.t1 != 0L && s.t2 == 0L &&
          ms > s.t1 && ms <= s.t1 + ClickWindowMs) {
        emit(StageAdvance(user, 2, ms))
        s.copy(t2 = ms)
      } else if (typ == "purchase" && s.t2 != 0L && s.t3 == 0L &&
          ms > s.t2 && ms <= s.t2 + PurchaseWindowMs) {
        emit(StageAdvance(user, 3, ms))
        s.copy(t3 = ms)
      } else s
    }
  }
}
