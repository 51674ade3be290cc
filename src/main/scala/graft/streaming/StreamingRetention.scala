package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live cohort retention — the incremental twin of x_retention: events
  * arrive as a stream; each user carries its cohort day (first-seen)
  * plus the set of week offsets it has already been counted in, and a
  * row is emitted exactly when a (user, week-offset) becomes active for
  * the first time. Folding the emitted stream by (cohort day, offset)
  * gives the same n_active counts as the batch query.
  *
  * State: one long (cohort day) + the set of already-emitted week
  * offsets. The set grows with CALENDAR WEEKS SINCE COHORT (52/year),
  * not with event volume, so per-user state stays tiny over any
  * realistic horizon — and no offset is ever silently dropped, which
  * keeps the streamed fold exactly equal to the batch query (a 64-bit
  * mask would diverge from x_retention past week 63). Unlike the
  * funnel, retention needs NO delivery-order assumption within a
  * week: membership in a (user, week) is order-independent, and the
  * cohort day only needs the user's first batch to contain its
  * earliest event — guaranteed by the [[KeyedFold]] in-order
  * contract.
  */
object StreamingRetention {

  /** (cohort day, already-emitted week offsets). */
  final case class RetentionState(cohortDay: Long, seen: Seq[Long])

  /** Emitted when `user_id` is first active in `off_w` (weeks since its
    * cohort day). */
  final case class WeekActive(user_id: Long, c_day: Long, off_w: Long)

  /** events: (user_id, ms). Emits one WeekActive per new (user, week). */
  def activations(events: DataFrame): Dataset[WeekActive] = {
    import events.sparkSession.implicits._
    val rows = events.select($"user_id".cast("long"), $"ms".cast("long"))
      .as[(Long, Long)]
    // sorted by time, so a new user's first arrival carries its cohort day
    KeyedFold(rows)(_._1).fold[RetentionState, WeekActive](
        order = Some(Ordering.by(_._2))) { (user, prev, r, emit) =>
      val day = r._2 / 86400000L
      val s = prev.getOrElse(RetentionState(day, Seq.empty))
      val off = (day - s.cohortDay) / 7L
      if (off >= 0 && !s.seen.contains(off)) {
        emit(WeekActive(user, s.cohortDay, off))
        RetentionState(s.cohortDay, (s.seen :+ off).sorted)
      } else s
    }
  }
}
