package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live last-touch revenue attribution — the incremental twin of
  * x_attribution: as events stream in, each user's most recent
  * non-purchase event type is carried as state, and every purchase
  * emits a credit row naming that channel (`direct` if the user has no
  * prior non-purchase event). Summing emitted credits per channel with
  * the batch query's exact DECIMAL(18,2) money arithmetic reproduces
  * the batch aggregate bit-for-bit over the same event prefix.
  *
  * State is ONE string per user (the channel name) — bounded by the
  * user population, independent of event volume; a power user firing
  * millions of events grows state not at all, the same bot-proofness
  * the batch query gets from its last-ignoreNulls window.
  *
  * Folded under the [[KeyedFold]] in-order contract, sorted by
  * (ts_us, event_id) within a batch — the batch window's exact order.
  */
object StreamingAttribution {

  /** One emitted row per purchase: the channel it credits and the raw
    * value (money-cast downstream, exactly like the batch query casts
    * per-event before summing). */
  final case class Credit(
      user_id: Long, event_id: Long, channel: String, value: Double)

  /** events: (user_id, event_id, ts_us, event_type, value) —
    * ts_us = epoch micros (the batch query's ordering key). */
  def credits(events: DataFrame): Dataset[Credit] = {
    import events.sparkSession.implicits._
    val rows = events.select($"user_id".cast("long"), $"event_id".cast("long"),
        $"ts_us".cast("long"), $"event_type", $"value".cast("double"))
      .as[(Long, Long, Long, String, Double)]
    KeyedFold(rows)(_._1).fold[String, Credit](
        order = Some(Ordering.by(r => (r._3, r._2)))) { (user, prev, r, emit) =>
      val (_, eid, _, et, v) = r
      val ch = prev.getOrElse("")
      if (et == "purchase") {
        emit(Credit(user, eid, if (ch.isEmpty) "direct" else ch, v))
        ch
      } else et
    }
  }
}
