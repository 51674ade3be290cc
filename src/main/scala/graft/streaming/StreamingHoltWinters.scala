package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live twin of x_forecast_holt_winters — the 31st: the integer-bp
  * seasonal forecast state folded over the daily count stream as each
  * (type, day) closes, so tomorrow's expected volume (level + trend +
  * next seasonal) is a LIVE number the alerting layer reads directly.
  *
  * The batch fold is already sequential-per-type over exact integers,
  * so the twin IS the batch algebra verbatim: state = (l, b, s₀..s₆,
  * e, n_days) — eleven longs, constant regardless of history — updated
  * with the same three trunc-division equations and the same
  * CALENDAR-aligned day % 7 seasonal index. Every emitted column is an
  * exact integer, so the last emission per type is bit-identical to
  * the batch row at any batch split (the batch query is
  * oracle-hash-matched, chaining stream ≡ batch ≡ DuckDB); the
  * seed emission reproduces the batch n_days = 1 branch with no
  * special casing (b = 0 and s ≡ 0 make l + b + s_next = l).
  * Folded under the [[KeyedFold]] in-order contract, sorted by day
  * within a micro-batch.
  *
  * REORDERS (ADVICE r16 — enforced here because this fold is NOT
  * append-only-safe the way the existence twins are): the rollup
  * contract is one CLOSED (type, day) row, non-decreasing in day per
  * type. A cross-micro-batch day reorder OR a re-delivered (type, day)
  * row would silently and permanently corrupt the sequential seasonal
  * state, so the state carries lastDay and every arrival with
  * day <= lastDay is a reorder: counted, not folded. */
object StreamingHoltWinters {

  // CHECKPOINT BOUNDARY (r17 ADVICE): lastDay was ADDED to this state
  // in r17 — checkpoints written by the pre-r17 twin carry the old
  // encoding and CANNOT be resumed (Spark's state-schema check fails
  // the restart; with stateSchemaCheck disabled it would misread).
  // Operators upgrading across r17 must start the HW/SES twins from
  // fresh checkpoints (replaying the rollup feed rebuilds state —
  // the feed is the durable artifact, the checkpoint is a cache).
  final case class HwState(l: Long, b: Long, s: Array[Long], e: Long,
      nDays: Long, lastDay: Long)

  /** One emission per closed (type, day): the post-update state plus
    * the derived next-day forecast columns — the batch output row's
    * columns with the day alongside. */
  final case class HwPoint(event_type: String, day: Long, n_days: Long,
      level_bp: Long, trend_bp: Long, season_next_bp: Long,
      forecast_next_bp: Long, season_amp_bp: Long, mae_bp: Long)

  /** rollup: (event_type, day, n) with `day` = epoch-ms DIV 86400000.
    * Returns the emission stream paired with its reorder accumulator. */
  def levels(rollup: DataFrame)
      : (Dataset[HwPoint], org.apache.spark.util.LongAccumulator) = {
    import rollup.sparkSession.implicits._
    val rows = rollup.select($"event_type", $"day".cast("long"), $"n".cast("long"))
      .as[(String, Long, Long)]
    KeyedFold(rows)(_._1).foldInOrder[HwState, HwPoint](
        "graft.holtwinters.outOfOrderArrivals", Ordering.by(_._2))(
        // day <= lastDay: a reorder or a re-delivered closed (type, day)
        // row — folding it would corrupt the seasonal state permanently
        (st, r) => r._2 <= st.lastDay) { (typ, prev, r, emit) =>
      val (_, day, n) = r
      val xv = n * 10000L
      val st = prev match {
        case None => HwState(xv, 0L, Array.fill(7)(0L), 0L, 1L, day)
        case Some(p) =>
          val i = (day % 7L).toInt
          val l2 = (xv - p.s(i) + p.l + p.b) / 2L
          val b2 = (l2 - p.l + p.b) / 2L
          val e2 = p.e + math.abs(xv - p.l - p.b - p.s(i))
          val s2 = p.s.clone()
          s2(i) = (xv - l2 + p.s(i)) / 2L
          HwState(l2, b2, s2, e2, p.nDays + 1L, day)
      }
      val sn = st.s(((day + 1L) % 7L).toInt)
      emit(HwPoint(typ, day, st.nDays, st.l, st.b, sn,
        st.l + st.b + sn, st.s.max - st.s.min,
        if (st.nDays >= 2L) st.e / (st.nDays - 1L) else 0L))
      st
    }
  }
}
