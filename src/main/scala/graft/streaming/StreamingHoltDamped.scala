package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live twin of x_forecast_holt_damped — the 39th: [[StreamingHolt]]
  * with every read of the trend damped first (φ = 3/4 = (b·3) DIV 4,
  * one exact trunc division — the batch query's own spelling), so the
  * live row carries the next-day, 7-day and asymptotic forecasts the
  * damped model exists to provide. Same five-long state, same exact
  * integers, same bit-identity of the last emission per type to the
  * oracle-hash-matched batch row; same day ≤ lastDay reorder
  * predicate (the [[StreamingHoltWinters]] rule). */
object StreamingHoltDamped {

  final case class DampedPoint(event_type: String, day: Long, n_days: Long,
      level_bp: Long, trend_bp: Long, forecast_next_bp: Long,
      forecast_week_bp: Long, forecast_inf_bp: Long, mae_bp: Long)

  /** rollup: (event_type, day, n) with `day` = epoch-ms DIV 86400000.
    * Returns the emission stream paired with its reorder accumulator. */
  def levels(rollup: DataFrame)
      : (Dataset[DampedPoint], org.apache.spark.util.LongAccumulator) = {
    import rollup.sparkSession.implicits._
    val rows = rollup.select($"event_type", $"day".cast("long"), $"n".cast("long"))
      .as[(String, Long, Long)]
    KeyedFold(rows)(_._1).foldInOrder[StreamingHolt.HoltState, DampedPoint](
        "graft.holtdamped.outOfOrderArrivals", Ordering.by(_._2))(
        (st, r) => r._2 <= st.lastDay) { (typ, prev, r, emit) =>
      val (_, day, n) = r
      val xv = n * 10000L
      val st = prev match {
        case None => StreamingHolt.HoltState(xv, 0L, 0L, 1L, day)
        case Some(p) =>
          val db = (p.b * 3L) / 4L
          val l2 = (xv + p.l + db) / 2L
          val b2 = (l2 - p.l + db) / 2L
          StreamingHolt.HoltState(l2, b2, p.e + math.abs(xv - p.l - db),
            p.nDays + 1L, day)
      }
      emit(DampedPoint(typ, day, st.nDays, st.l, st.b,
        st.l + (st.b * 3L) / 4L,
        st.l + (st.b * 42591L) / 16384L,
        st.l + 3L * st.b,
        if (st.nDays >= 2L) st.e / (st.nDays - 1L) else 0L))
      st
    }
  }
}
