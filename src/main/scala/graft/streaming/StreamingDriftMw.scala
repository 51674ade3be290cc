package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live Mann–Whitney location drift — the 26th streaming twin,
  * incremental over x_drift_mw: the frozen EARLY-half value
  * distribution is the trained artifact (live monitoring compares
  * against a fixed reference — the [[StreamingDrift]] contract), and
  * each arriving late-half value folds its exact rank-sum contribution
  * into per-type running state.
  *
  * Why this is append-only: u2 = Σ over (early, late) pairs of
  * 2·[e > v] + [e = v], and each arrival v contributes the CLOSED
  * per-arrival term 2·cntE(e > v) + cntE(e = v) computed against the
  * frozen early histogram — later arrivals never revise it. The
  * effect size cles_bp = u2·10⁴ DIV (2·ne·nl) is re-derived on every
  * emission from the two running integers, so the emitted row is
  * bit-identical to the batch query's at any prefix of the stream
  * (the batch query is oracle-hash-matched, chaining stream ≡ batch ≡
  * DuckDB).
  *
  * State per type is TWO longs (n_late, u2) — constant bytes,
  * type-cardinality bounded; the early histogram rides broadcast in
  * the closure as sorted (cents, cumLE, eq) arrays, one binary search
  * per arrival. Types absent from the early half emit nothing — the
  * batch query's empty-half drop rule, applied at the artifact
  * boundary. At 100 TB: the artifact is the distinct-cent-level
  * histogram (quantizer-bounded), arrivals cost O(log levels) each,
  * and emissions are one tiny row per (type, batch). */
object StreamingDriftMw {

  final case class MwState(nLate: Long, u2: Long)

  final case class MwDrift(event_type: String, n_early: Long,
      n_late: Long, u2: Long, cles_bp: Long)

  /** One type's frozen early side: level-sorted cents with prefix
    * counts, ready for the per-arrival binary search. */
  private final case class EarlySide(cents: Array[Long],
      cumLe: Array[Long], eq: Array[Long], ne: Long)

  private def build(hist: Map[String, Seq[(Long, Long)]])
      : Map[String, EarlySide] =
    hist.collect { case (t, levels) if levels.nonEmpty =>
      val sorted = levels.sortBy(_._1).toArray
      val cents = sorted.map(_._1)
      val eq = sorted.map(_._2)
      val cumLe = eq.scanLeft(0L)(_ + _).drop(1)
      t -> EarlySide(cents, cumLe, eq, cumLe.last)
    }

  /** events: (event_type, cents) — the late-half arrivals; early: the
    * frozen early-half histogram, event_type → (cents level, count). */
  def drift(events: DataFrame, early: Map[String, Seq[(Long, Long)]])
      : Dataset[MwDrift] = {
    import events.sparkSession.implicits._
    val sides = build(early)
    require(sides.nonEmpty, "early reference must be non-empty")
    val rows = events.select($"event_type", $"cents".cast("long"))
      .as[(String, Long)]
      .filter(r => sides.contains(r._1)) // no early mass: the batch drop rule
    KeyedFold(rows)(_._1).fold[MwState, MwDrift](
        summary = { (t, _, st, emit) =>
          val s = sides(t)
          // BigInt scaling (r18 wide spelling): Long wrapped
          // silently past u2 ≈ 9.2·10¹⁴; quotient ≤ 10⁴
          emit(MwDrift(t, s.ne, st.nLate, st.u2,
            (BigInt(st.u2) * 10000 / (BigInt(2) * s.ne * st.nLate)).toLong))
          st
        }) { (t, prev, r, _) =>
      val s = sides(t)
      val v = r._2
      val st = prev.getOrElse(MwState(0L, 0L))
      // first level strictly above v → cntLE via the level below it; eq
      // only when v is exactly a stored level
      val i = {
        val p = java.util.Arrays.binarySearch(s.cents, v)
        if (p >= 0) p else -(p + 1) - 1 // index of level ≤ v, or -1
      }
      val isLevel = i >= 0 && s.cents(i) == v
      val cumLe = if (i < 0) 0L else s.cumLe(i)
      val eq = if (isLevel) s.eq(i) else 0L
      val greater = s.ne - cumLe
      // addExact: u2 ≤ 2·ne·nl is the state's Long-width envelope (mixed
      // per-type rows ≳ 3·10⁹) — raise loudly there instead of wrapping
      // (the DriftArith loud-or-exact rule; the state schema stays a
      // Long, checkpoint-compatible)
      MwState(st.nLate + 1L, math.addExact(st.u2, 2L * greater + eq))
    }
  }
}
