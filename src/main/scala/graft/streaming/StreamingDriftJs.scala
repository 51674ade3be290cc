package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live Jensen–Shannon drift — the 30th streaming twin; with it every
  * drift-family member has a live side (TVD [[StreamingDrift]], MW
  * [[StreamingDriftMw]], KS [[StreamingDriftKs]], the banded pair
  * [[StreamingDriftBands]], and now JS over x_drift_js).
  *
  * WORKSHEET: like KS (and unlike MW/bands), no closed per-arrival
  * term exists — every JSD term re-weights when n_late grows — AND
  * unlike KS the early-only levels carry nonzero mass (an early level
  * the late side never visits contributes 0.5·p·ln 2, the divergence
  * of unmatched support), so the emission must walk the FULL merged
  * level set: state is the live late histogram per type (the KS
  * shape — quantizer-bounded, not volume-bounded) and each emission
  * re-derives the sum with the batch query's own operand trees
  * (integer cross products 2·ea·nl / (ea·nl + la·ne) built in exact
  * int64 then imaged to double, one 0.5·p·ln(·) pair per level,
  * round-4 + 0.0) — bit-equal to the batch x_drift_js row computed on
  * (early corpus + late prefix) at any stream prefix; the batch query
  * is oracle-hash-matched, chaining stream ≡ batch ≡ DuckDB. Types
  * absent from the early half emit nothing (the artifact-boundary
  * drop rule).
  *
  * At 100 TB: artifact + state are both distinct-cent-level bounded;
  * arrivals O(1) map update; the O(levels) walk runs once per
  * (type, micro-batch) emission. */
object StreamingDriftJs {

  final case class JsState(late: Map[Long, Long], nLate: Long)

  final case class JsDrift(event_type: String, n_early: Long,
      n_late: Long, jsd_nats: Double)

  private final case class EarlySide(eq: Map[Long, Long], levels: Array[Long],
      ne: Long)

  private def build(hist: Map[String, Seq[(Long, Long)]])
      : Map[String, EarlySide] =
    hist.collect { case (t, levels) if levels.nonEmpty =>
      val m = levels.toMap
      t -> EarlySide(m, levels.map(_._1).sorted.toArray, m.values.sum)
    }

  /** events: (event_type, cents) — the late-half arrivals; early: the
    * frozen early-half histogram, event_type → (cents level, count). */
  def drift(events: DataFrame, early: Map[String, Seq[(Long, Long)]])
      : Dataset[JsDrift] = {
    import events.sparkSession.implicits._
    val sides = build(early)
    require(sides.nonEmpty, "early reference must be non-empty")
    val rows = events.select($"event_type", $"cents".cast("long"))
      .as[(String, Long)]
      .filter(r => sides.contains(r._1)) // no early mass: the batch drop rule
    KeyedFold(rows)(_._1).fold[JsState, JsDrift](
        summary = { (t, _, st, emit) =>
          val s = sides(t)
          val nl = st.nLate
          val merged = (s.levels ++ st.late.keysIterator).distinct.sorted
          var jsd = 0.0
          merged.foreach { v =>
            val ea = s.eq.getOrElse(v, 0L)
            val la = st.late.getOrElse(v, 0L)
            // BigInt mixture terms (r18 wide spelling): ea·nl
            // wrapped silently in Long past ne·nl ≈ 9.2·10¹⁸; the
            // double images are the float envelope, unchanged
            val mix = (BigInt(ea) * nl + BigInt(la) * s.ne).toDouble
            // the batch per-level combined term, operand for operand
            val tp =
              if (ea > 0L)
                0.5 * (ea.toDouble / s.ne) *
                  math.log((BigInt(2) * ea * nl).toDouble / mix)
              else 0.0
            val tq =
              if (la > 0L)
                0.5 * (la.toDouble / nl) *
                  math.log((BigInt(2) * la * s.ne).toDouble / mix)
              else 0.0
            jsd += tp + tq
          }
          val r4 = BigDecimal(jsd).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
          emit(JsDrift(t, s.ne, nl, r4))
          st
        }) { (_, prev, r, _) =>
      val st = prev.getOrElse(JsState(Map.empty, 0L))
      JsState(st.late.updated(r._2, st.late.getOrElse(r._2, 0L) + 1L), st.nLate + 1L)
    }
  }
}
