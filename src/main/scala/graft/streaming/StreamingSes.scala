package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live twin of x_forecast_ses: a per-type simple-exponential-smoothing
  * level (α = 1/2) folded over the daily count stream as it closes —
  * the live alert baseline (tomorrow's expected count IS the current
  * level), emitted with the one-step absolute forecast error each day
  * so the batch MAE is reproducible from the emissions.
  *
  * State per type is THREE numbers (level, error count, last folded
  * day) — constant regardless of history length, the cheapest state in
  * the twin family. α = 1/2 keeps every update an exact dyadic
  * halving, so the live levels are bit-identical to the batch fold at
  * any batch split.
  *
  * REORDERS (r17, the StreamingHoltWinters rule applied to its older
  * sibling — this fold is NOT append-only-safe the way the existence
  * twins are): the rollup contract is one CLOSED (type, day) row,
  * non-decreasing in day per type; a cross-micro-batch reorder or a
  * re-delivered closed row would silently and permanently corrupt the
  * level, so every day ≤ lastDay arrival is a reorder under the
  * [[KeyedFold]] in-order contract. */
object StreamingSes {

  // CHECKPOINT BOUNDARY (r17 ADVICE): lastDay joined this state in
  // r17 — pre-r17 checkpoints cannot be resumed (see the HwState note;
  // start a fresh checkpoint and replay the rollup feed).
  final case class SesState(level: Double, nDays: Long, lastDay: Long)

  /** One emission per closed (type, day): the PRE-update forecast
    * (yesterday's level), the observed count, the absolute error and
    * the post-update level. The first day of a type emits forecast =
    * observation (error 0) — the batch fold's seeding rule. */
  final case class SesPoint(
      event_type: String, day: Long, n: Long,
      forecast: Double, abs_err: Double, level: Double)

  /** rollup: (event_type, day, n) with `day` = epoch-ms DIV 86400000.
    * Returns the emission stream paired with its reorder accumulator. */
  def levels(rollup: DataFrame)
      : (Dataset[SesPoint], org.apache.spark.util.LongAccumulator) = {
    import rollup.sparkSession.implicits._
    val rows = rollup.select($"event_type", $"day".cast("long"), $"n".cast("long"))
      .as[(String, Long, Long)]
    KeyedFold(rows)(_._1).foldInOrder[SesState, SesPoint](
        "graft.ses.outOfOrderArrivals", Ordering.by(_._2))(
        (st, r) => r._2 <= st.lastDay) { (typ, prev, r, emit) =>
      val (_, day, n) = r
      val x = n.toDouble
      prev match {
        case None =>
          emit(SesPoint(typ, day, n, x, 0.0, x))
          SesState(x, 1L, day)
        case Some(st) =>
          val lv = (st.level + x) / 2
          emit(SesPoint(typ, day, n, st.level, math.abs(x - st.level), lv))
          SesState(lv, st.nDays + 1, day)
      }
    }
  }
}
