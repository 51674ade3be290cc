package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live Wasserstein-1 (earth-mover) drift — the 34th streaming twin,
  * incremental over x_drift_emd and the KS twin's literal sibling: the
  * frozen early-half histogram is the trained artifact and the state is
  * [[StreamingDriftKs.KsState]] VERBATIM (the level-keyed late
  * histogram — the r16 worksheet's conclusion that any statistic whose
  * terms re-weight with n_late needs the full late histogram applies to
  * W₁ exactly as to KS: every |cumE·nl − cumL·ne| term re-weights when
  * nl grows). The only difference is the walk: the SAME merged-level
  * ascending pass, SUMMED with level-gap weights instead of sup'd —
  * W₁ = Σ |cumE·nl − cumL·ne|·Δcents over merged levels (the
  * one-dimensional CDF formula), then the batch query's exact
  * floor-division decomposition w1_bp = (tot DIV d)·10⁴ +
  * ((tot MOD d)·10⁴) DIV d with d = ne·nl.
  *
  * Integer envelope (r18, loud-or-exact — graft.queries.DriftArith):
  * the walk, tot, and the decomposition run in BigInt — EXACT at any
  * BIGINT count, no envelope left (the old Long spelling wrapped
  * silently past tot ≈ 9.2·10¹⁸ or ne·nl ≈ 9.2·10¹⁴; the batch
  * query's DECIMAL(38,0)/HUGEINT spelling is the same operand tree,
  * raising loudly at its own 10³⁴/10³⁸ boundaries). No tie rule is needed (a sum has no argmax); the last
  * merged level has no successor and contributes nothing (its cross
  * term is already 0). The emitted row equals the batch x_drift_emd
  * row computed on (early corpus + late prefix) at ANY stream prefix —
  * the batch query is oracle-hash-matched, chaining stream ≡ batch ≡
  * DuckDB. Types absent from the early half emit nothing (the batch
  * empty-half drop rule at the artifact boundary).
  *
  * At 100 TB: the artifact and per-type state are both bounded by the
  * cents quantizer's level count, arrivals cost O(1) map updates, and
  * the O(levels) walk runs once per (type, micro-batch) emission — the
  * KS twin's scale story verbatim. */
object StreamingDriftEmd {

  final case class EmdDrift(event_type: String, n_early: Long,
      n_late: Long, w1_bp: Long)

  /** The merged-level gap-weighted sum — ascending cents over
    * early ∪ late levels, each level's cross term carried over the gap
    * to the NEXT level (CDFs are constant between levels). */
  private[streaming] def w1(s: StreamingDriftKs.EarlySide,
      late: Map[Long, Long], nl: Long): BigInt = {
    val merged = (s.cents ++ late.keysIterator).distinct.sorted
    var cumL = 0L
    // BigInt cross terms and total (r18 wide spelling, the DriftArith
    // rule): tot carries the cents-range factor on top of ne·nl, the
    // first Long casualty in the family — exact at any count here
    var tot = BigInt(0)
    var ei = 0
    var i = 0
    while (i < merged.length) {
      val v = merged(i)
      while (ei < s.cents.length && s.cents(ei) <= v) ei += 1
      val cumE = if (ei == 0) 0L else s.cumLe(ei - 1)
      cumL += late.getOrElse(v, 0L)
      if (i + 1 < merged.length)
        tot += (BigInt(cumE) * nl - BigInt(cumL) * s.ne).abs *
          (merged(i + 1) - v)
      i += 1
    }
    tot
  }

  /** events: (event_type, cents) — the late-half arrivals; early: the
    * frozen early-half histogram, event_type → (cents level, count). */
  def drift(events: DataFrame, early: Map[String, Seq[(Long, Long)]])
      : Dataset[EmdDrift] = {
    import events.sparkSession.implicits._
    StreamingDriftKs.lateFold(events, early) { (t, s, st) =>
      val tot = w1(s, st.late, st.nLate)
      val d = BigInt(s.ne) * st.nLate
      // w1_bp ≤ range(cents)·10⁴ — the narrowing is total
      EmdDrift(t, s.ne, st.nLate,
        ((tot / d) * 10000 + ((tot % d) * 10000) / d).toLong)
    }
  }
}
