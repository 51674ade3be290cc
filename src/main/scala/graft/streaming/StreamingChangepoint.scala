package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live twin of x_changepoint: per event type, the CUSUM mean-shift
  * changepoint of the daily count series, re-evaluated as each batch of
  * daily rollups lands — the "where did the level shift" monitoring
  * read kept current without re-scanning history.
  *
  * The statistic is retrospective (it needs the whole series: the
  * argmax of |D·S_k − k·T| over split points k), so unlike the
  * constant-state twins the state here is the per-type day→count map —
  * bounded by CALENDAR DAYS observed, not by event volume (a year of
  * daily granularity is 365 entries per type). Incoming rows for an
  * already-seen day MERGE by addition, so upstream may emit partial
  * day counts across batch boundaries and the fold still converges to
  * the batch answer.
  *
  * Each batch emits one point per type that received rows: the current
  * changepoint under the batch query's exact integer rule (scaled
  * CUSUM |D·S_k − k·T|, k < D, earliest-day ties). `obs` (total
  * observations folded so far) grows strictly with every batch a type
  * appears in, so "latest emission" is recoverable from an append sink.
  */
object StreamingChangepoint {

  final case class CpState(counts: Map[Long, Long])

  /** Current changepoint for `event_type` after folding a batch:
    * `cp_day` / `cusum_abs` per the batch rule, `n_days` = distinct
    * days seen, `obs` = total events folded (monotone per type). */
  final case class CpPoint(
      event_type: String, cp_day: Long, cusum_abs: Long,
      n_days: Long, obs: Long)

  /** rollup: (event_type, day, c) with `day` = epoch-ms DIV 86400000.
    * A (type, day) pair may recur across batches; counts add. Types
    * with fewer than 2 observed days emit nothing (no split point). */
  def points(rollup: DataFrame): Dataset[CpPoint] = {
    import rollup.sparkSession.implicits._
    val rows = rollup.select($"event_type", $"day".cast("long"), $"c".cast("long"))
      .as[(String, Long, Long)]
    KeyedFold(rows)(_._1).fold[CpState, CpPoint](
        summary = { (typ, _, st, emit) =>
          val counts = st.counts
          val days = counts.keys.toArray.sorted
          val d = days.length.toLong
          if (d >= 2) {
            val t = counts.valuesIterator.sum
            var s = 0L
            var bestC = -1L
            var bestDay = 0L
            var k = 1L
            var i = 0
            while (i < days.length - 1) { // split points k < d
              s += counts(days(i))
              val cusum = math.abs(d * s - k * t)
              if (cusum > bestC) { bestC = cusum; bestDay = days(i) }
              k += 1
              i += 1
            }
            emit(CpPoint(typ, bestDay, bestC, d, t))
          }
          st
        }) { (_, prev, r, _) =>
      val counts = prev.fold(Map.empty[Long, Long])(_.counts)
      CpState(counts.updated(r._2, counts.getOrElse(r._2, 0L) + r._3))
    }
  }
}
