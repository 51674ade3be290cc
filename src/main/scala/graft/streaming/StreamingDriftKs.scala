package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}

/** Live Kolmogorov–Smirnov shape drift — the 27th streaming twin,
  * incremental over x_drift_ks:
  * the frozen EARLY-half value distribution is the trained artifact
  * (the [[StreamingDrift]] / [[StreamingDriftMw]] contract), and the
  * late half arrives as a stream.
  *
  * WORKSHEET (why this twin could NOT reuse the MW shape, written
  * before the code): MW's per-arrival rank-sum term is CLOSED against
  * the frozen histogram — u2 is a sum over (early, late) pairs, so
  * each arrival contributes 2·cntE(>v) + cntE(=v) once and the state
  * is two longs. The KS statistic is a RUNNING SUP over the merged
  * ECDF: sup_v |cumE(v)·nl − cumL(v)·ne| re-weights EVERY level's term
  * when nl grows by one, so no per-arrival closed contribution exists.
  * The state must therefore hold the live late HISTOGRAM per type —
  * counts per distinct cent level, bounded by the cents quantizer's
  * level count, NOT by arrival volume — and each emission re-derives
  * the sup over the merged distinct levels (early ∪ late): one
  * O(levels) walk with two running prefix counts. Integer envelope
  * (r18, loud-or-exact — graft.queries.DriftArith): the walk's cross
  * terms and the final ks_bp = mx·10⁴ DIV (ne·nl) scaling run in
  * BigInt — EXACT at any BIGINT count, no envelope left at all (the
  * old Long spelling wrapped silently past ne·nl ≈ 9.2·10¹⁴ on the
  * scaling; the batch query's DECIMAL(38,0)/HUGEINT spelling is the
  * same operand tree, raising loudly at its own 10³⁴ boundary). The
  * straddle pins live in DegenerateInputSpec.
  *
  * Tie/argmax convention replayed from the batch query: the sup walks
  * levels in ASCENDING cents order and keeps the FIRST level achieving
  * the max (batch: WHERE term = mx … min(cents)), so ks_at_cents is
  * bit-identical. ks_bp = mx·10⁴ DIV (ne·nl) — all-integer trunc
  * division, identical operand trees. The emitted row equals the batch
  * x_drift_ks row computed on (early corpus + late prefix) at ANY
  * stream prefix — the batch query is oracle-hash-matched, chaining
  * stream ≡ batch ≡ DuckDB. Types absent from the early half emit
  * nothing (the batch empty-half drop rule at the artifact boundary).
  *
  * At 100 TB: the artifact is the distinct-cent-level early histogram
  * (quantizer-bounded); state per type is the level-keyed late count
  * map (same bound); arrivals cost O(1) map update each; the
  * O(levels) sup walk runs once per (type, micro-batch) emission, not
  * per arrival. */
object StreamingDriftKs {

  final case class KsState(late: Map[Long, Long], nLate: Long)

  final case class KsDrift(event_type: String, n_early: Long,
      n_late: Long, ks_at_cents: Long, ks_bp: Long)

  /** One type's frozen early side: level-sorted cents with prefix
    * counts (cumLe(i) = #early values ≤ cents(i)). Shared with
    * [[StreamingDriftEmd]] — same artifact, same state, different
    * walk (sup vs gap-weighted sum). */
  private[streaming] final case class EarlySide(cents: Array[Long],
      cumLe: Array[Long], ne: Long)

  private[streaming] def build(hist: Map[String, Seq[(Long, Long)]])
      : Map[String, EarlySide] =
    hist.collect { case (t, levels) if levels.nonEmpty =>
      val sorted = levels.sortBy(_._1).toArray
      val cents = sorted.map(_._1)
      val cumLe = sorted.map(_._2).scanLeft(0L)(_ + _).drop(1)
      t -> EarlySide(cents, cumLe, cumLe.last)
    }

  /** The merged-level sup walk — ascending cents over early ∪ late
    * levels, first-max tiebreak (the batch min(cents) rule). BigInt
    * cross terms since r18 (the batch DECIMAL(38,0)/HUGEINT wide
    * spelling's JVM image — plain Long would wrap SILENTLY past
    * ne·nl ≈ 9.2·10¹⁸; exact at any count here, and the walk runs
    * once per (type, micro-batch) over quantizer-bounded levels, so
    * the boxing never touches the per-arrival path). */
  private[streaming] def sup(s: EarlySide, late: Map[Long, Long],
      nl: Long): (BigInt, Long) = {
    val merged = (s.cents ++ late.keysIterator).distinct.sorted
    var cumL = 0L
    var mx = BigInt(-1)
    var at = 0L
    var ei = 0
    merged.foreach { v =>
      while (ei < s.cents.length && s.cents(ei) <= v) ei += 1
      val cumE = if (ei == 0) 0L else s.cumLe(ei - 1)
      cumL += late.getOrElse(v, 0L)
      val term = (BigInt(cumE) * nl - BigInt(cumL) * s.ne).abs
      if (term > mx) { mx = term; at = v }
    }
    (mx, at)
  }

  /** mx·10⁴ DIV (ne·nl) in BigInt — the batch scaleBp spelling;
    * quotient ≤ 10⁴ so the narrowing is total. */
  private[streaming] def scaleBp(mx: BigInt, ne: Long, nl: Long): Long =
    (mx * 10000 / (BigInt(ne) * nl)).toLong

  /** The late-histogram fold the KS/AD/CvM/EMD twins share: events are
    * (event_type, cents) late-half arrivals; a type with no early mass
    * is dropped (the batch empty-half rule), and every batch that
    * touches a type emits `row` from its updated state. */
  private[streaming] def lateFold[O: Encoder](events: DataFrame,
      early: Map[String, Seq[(Long, Long)]])(
      row: (String, EarlySide, KsState) => O): Dataset[O] = {
    import events.sparkSession.implicits._
    val sides = build(early)
    require(sides.nonEmpty, "early reference must be non-empty")
    val rows = events.select($"event_type", $"cents".cast("long"))
      .as[(String, Long)]
      .filter(r => sides.contains(r._1))
    KeyedFold(rows)(_._1).fold[KsState, O](
        summary = { (t, _, st, emit) => emit(row(t, sides(t), st)); st }) {
      (_, prev, r, _) =>
        val st = prev.getOrElse(KsState(Map.empty, 0L))
        KsState(st.late.updated(r._2, st.late.getOrElse(r._2, 0L) + 1L),
          st.nLate + 1L)
    }
  }

  /** events: (event_type, cents) — the late-half arrivals; early: the
    * frozen early-half histogram, event_type → (cents level, count). */
  def drift(events: DataFrame, early: Map[String, Seq[(Long, Long)]])
      : Dataset[KsDrift] = {
    import events.sparkSession.implicits._
    lateFold(events, early) { (t, s, st) =>
      val (mx, at) = sup(s, st.late, st.nLate)
      KsDrift(t, s.ne, st.nLate, at, scaleBp(mx, s.ne, st.nLate))
    }
  }
}
