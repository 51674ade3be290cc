package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live twin of x_forecast_holt — the 38th, completing the forecast
  * family's live side alongside [[StreamingSes]] and
  * [[StreamingHoltWinters]]: the integer-bp level+trend state folded
  * over the daily count stream as each (type, day) closes, so
  * tomorrow's expected volume WITH its slope is a live number.
  *
  * The batch fold is sequential-per-type over exact integers, so the
  * twin IS the batch algebra verbatim: state = (l, b, e, n_days,
  * lastDay) — five longs — updated with the same two trunc-division
  * equations; every emitted column is an exact integer, so the last
  * emission per type is bit-identical to the oracle-hash-matched batch
  * row at any batch split (stream ≡ batch ≡ DuckDB). The seed emission
  * reproduces the batch n_days = 1 branch (b = 0 makes l + b = l).
  *
  * REORDERS (the [[StreamingHoltWinters]] rule): a day ≤ lastDay
  * arrival is a reorder under the [[KeyedFold]] in-order contract. */
object StreamingHolt {

  final case class HoltState(l: Long, b: Long, e: Long, nDays: Long,
      lastDay: Long)

  /** One emission per closed (type, day): the batch output row's
    * columns with the day alongside. */
  final case class HoltPoint(event_type: String, day: Long, n_days: Long,
      level_bp: Long, trend_bp: Long, forecast_next_bp: Long, mae_bp: Long)

  /** rollup: (event_type, day, n) with `day` = epoch-ms DIV 86400000.
    * Returns the emission stream paired with its reorder accumulator. */
  def levels(rollup: DataFrame)
      : (Dataset[HoltPoint], org.apache.spark.util.LongAccumulator) = {
    import rollup.sparkSession.implicits._
    val rows = rollup.select($"event_type", $"day".cast("long"), $"n".cast("long"))
      .as[(String, Long, Long)]
    KeyedFold(rows)(_._1).foldInOrder[HoltState, HoltPoint](
        "graft.holt.outOfOrderArrivals", Ordering.by(_._2))(
        (st, r) => r._2 <= st.lastDay) { (typ, prev, r, emit) =>
      val (_, day, n) = r
      val xv = n * 10000L
      val st = prev match {
        case None => HoltState(xv, 0L, 0L, 1L, day)
        case Some(p) =>
          val l2 = (xv + p.l + p.b) / 2L
          val b2 = (l2 - p.l + p.b) / 2L
          HoltState(l2, b2, p.e + math.abs(xv - p.l - p.b), p.nDays + 1L, day)
      }
      emit(HoltPoint(typ, day, st.nDays, st.l, st.b, st.l + st.b,
        if (st.nDays >= 2L) st.e / (st.nDays - 1L) else 0L))
      st
    }
  }
}
