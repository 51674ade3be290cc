package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live path mining — the incremental twin of x_event_paths: per-user
  * event-type trigram paths emitted the moment the third event of a
  * window arrives. Feeding the emissions into any counting sink yields
  * exactly the batch query's path counts (the parity spec proves the
  * top-20 table matches).
  *
  * State per user is the LAST TWO event types — constant bytes,
  * independent of history length, the cheapest possible sessionization
  * state (the same two-row lookahead the batch query's lead() window
  * holds per sort cursor, kept here across batches forever), folded
  * under the [[KeyedFold]] in-order contract sorted by
  * (ts_ms, event_id).
  */
object StreamingPaths {

  final case class PathState(a: String, b: String)

  final case class PathHit(user_id: Long, path: String)

  /** events: (user_id, ts_ms, event_id, event_type). */
  def paths(events: DataFrame): Dataset[PathHit] = {
    import events.sparkSession.implicits._
    val rows = events.select("user_id", "ts_ms", "event_id", "event_type")
      .as[(Long, Long, Long, String)]
    KeyedFold(rows)(_._1).fold[PathState, PathHit](
        order = Some(Ordering.by(r => (r._2, r._3)))) { (uid, prev, r, emit) =>
      val s = prev.getOrElse(PathState(null, null))
      if (s.a != null && s.b != null) emit(PathHit(uid, s"${s.a}>${s.b}>${r._4}"))
      PathState(s.b, r._4)
    }
  }
}
