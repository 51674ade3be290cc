package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live twin of x_forecast_hw_log — the 40th, closing the forecast
  * family's live side completely (SES / Holt / damped / HW / HW-log
  * each have a twin): the log-additive Holt–Winters double state
  * folded over the daily count stream, emitting the multiplicative-
  * seasonality read (ratio amplitude, growth rate) live.
  *
  * The batch fold is sequential-per-type IEEE doubles with identical
  * operand trees, and this twin executes the SAME operand trees in
  * the same order (x = ln(n), the three half-smoothing equations,
  * /2 exact), so the raw state is bit-identical to the batch
  * aggregate's at any batch split; emissions round-4 (HALF_UP, the
  * functions.round rule) exactly where the batch projects, so the
  * last emission per type EQUALS the oracle-hash-matched batch row —
  * stream ≡ batch ≡ DuckDB, carried into the float domain. Seed
  * reproduces the n_days = 1 guard branch (trend/seasonal/mae emitted
  * as literal 0.0, level = forecast = ln x₁ — the batch's own
  * branch values).
  *
  * REORDERS (the [[StreamingHoltWinters]] rule): a day ≤ lastDay
  * arrival is a reorder under the [[KeyedFold]] in-order contract — a
  * silent fold would corrupt the seasonal profile permanently. */
object StreamingHwLog {

  final case class HwLogState(l: Double, b: Double, s: Array[Double],
      e: Double, nDays: Long, lastDay: Long)

  final case class HwLogPoint(event_type: String, day: Long, n_days: Long,
      level_ln: Double, trend_ln: Double, season_next_ln: Double,
      forecast_next_ln: Double, season_amp_ln: Double, mae_ln: Double)

  private def r4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** rollup: (event_type, day, n) with `day` = epoch-ms DIV 86400000.
    * Returns the emission stream paired with its reorder accumulator. */
  def levels(rollup: DataFrame)
      : (Dataset[HwLogPoint], org.apache.spark.util.LongAccumulator) = {
    import rollup.sparkSession.implicits._
    val rows = rollup.select($"event_type", $"day".cast("long"), $"n".cast("long"))
      .as[(String, Long, Long)]
    KeyedFold(rows)(_._1).foldInOrder[HwLogState, HwLogPoint](
        "graft.hwlog.outOfOrderArrivals", Ordering.by(_._2))(
        (st, r) => r._2 <= st.lastDay) { (typ, prev, r, emit) =>
      val (_, day, n) = r
      val x = math.log(n.toDouble)
      val st = prev match {
        case None => HwLogState(x, 0.0, Array.fill(7)(0.0), 0.0, 1L, day)
        case Some(p) =>
          val i = (day % 7L).toInt
          val l2 = (x - p.s(i) + p.l + p.b) / 2.0
          val b2 = (l2 - p.l + p.b) / 2.0
          val e2 = p.e + math.abs(x - p.l - p.b - p.s(i))
          val s2 = p.s.clone()
          s2(i) = (x - l2 + p.s(i)) / 2.0
          HwLogState(l2, b2, s2, e2, p.nDays + 1L, day)
      }
      if (st.nDays == 1L)
        emit(HwLogPoint(typ, day, 1L, r4(st.l), 0.0, 0.0, r4(st.l), 0.0, 0.0))
      else {
        val sn = st.s(((day + 1L) % 7L).toInt)
        emit(HwLogPoint(typ, day, st.nDays, r4(st.l), r4(st.b),
          r4(sn), r4(st.l + st.b + sn), r4(st.s.max - st.s.min),
          r4(st.e / (st.nDays - 1L))))
      }
      st
    }
  }
}
