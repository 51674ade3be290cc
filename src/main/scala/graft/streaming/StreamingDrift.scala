package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live distribution-shift alarm — the incremental twin of x_drift_tvd:
  * events stream in bucketed by epoch week, each week's running
  * event-type counts accumulate as state, and every batch that touches
  * a week re-emits that week's total-variation distance against a
  * FIXED baseline mix (the batch query's first-week counts, supplied by
  * the caller — live monitoring compares against a frozen reference, it
  * does not rewrite history). The TVD arithmetic is the batch query's
  * exact integer form: per-type |obs·btot − bc·wtot|·10000 integer-DIV
  * (wtot·btot), summed over the baseline∩week type set, halved — so the
  * final emission per week is bit-identical to the batch row.
  *
  * State is one (type → count) map per week — type-cardinality bounded,
  * independent of event volume; weeks are the group key, so state also
  * stays bounded by the monitored time range.
  */
object StreamingDrift {

  final case class DriftState(counts: Map[String, Long])

  /** Running per-week snapshot; n_seen counts every event in the week
    * (including types outside the baseline mix). */
  final case class Drift(week_idx: Long, n_seen: Long, tvd_bp: Long)

  /** events: (week_idx, event_type); baseline: type → count of the
    * frozen reference week. */
  def drift(events: DataFrame, baseline: Map[String, Long]): Dataset[Drift] = {
    import events.sparkSession.implicits._
    val btot = baseline.values.sum
    require(btot > 0, "baseline mix must be non-empty")
    val rows = events.select($"week_idx".cast("long"), $"event_type")
      .as[(Long, String)]
    KeyedFold(rows)(_._1).fold[DriftState, Drift](
        summary = { (week, _, st, emit) =>
          val m = st.counts
          val wtot = m.valuesIterator.sum
          // the batch query's inner join: only types present in BOTH the
          // baseline and the week contribute a term
          // BigInt cross terms (r18 wide spelling, the DriftArith rule):
          // m(t)·btot and the ×10⁴ scaling wrapped silently in Long past
          // wtot·btot ≈ 9.2·10¹⁴; exact at any count here
          val tvd = (baseline.toSeq.sortBy(_._1).collect {
            case (t, bc) if m.contains(t) =>
              ((BigInt(m(t)) * btot - BigInt(bc) * wtot).abs * 10000) /
                (BigInt(wtot) * btot)
          }.sum / 2).toLong
          emit(Drift(week, wtot, tvd))
          st
        }) { (_, prev, r, _) =>
      val m = prev.fold(Map.empty[String, Long])(_.counts)
      DriftState(m.updated(r._2, m.getOrElse(r._2, 0L) + 1L))
    }
  }
}
