package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live Cramér–von Mises drift — the 37th streaming twin, keeping the
  * drift family's live side COMPLETE as the batch side grows (the r16
  * claim this round preserves: every batch drift read has a live twin):
  * the frozen early histogram is the trained artifact and the state is
  * [[StreamingDriftKs.KsState]] VERBATIM (the KS/EMD re-weighting
  * argument a third time — every D = cumE·nl − cumL·ne re-weights when
  * nl grows, so the full late histogram is forced). The walk is the
  * batch x_drift_cvm sum: T = Σ w·D² / ((ne+nl)²·ne·nl) over merged
  * levels with pooled weight w = ea + la at each level, D exact int64
  * squared IN DOUBLE (the x_drift_chi2 envelope — |D| ≤ ne·nl ≪ 2^53),
  * emitted round-4 (Spark's HALF_UP, the functions.round rule).
  *
  * Parity note: the batch aggregate sums levels in partition order,
  * the twin in ascending level order — the ≤ 10⁻¹⁶-relative float-sum
  * order skew is absorbed by round-4 (the x_drift_js precedent), and
  * the parity spec pins equality of the rounded values against the
  * oracle-hash-matched batch row, chaining stream ≡ batch ≡ DuckDB.
  * Types absent from the early half emit nothing (the batch drop
  * rule). At 100 TB: the KS twin's scale story verbatim. */
object StreamingDriftCvm {

  final case class CvmDrift(event_type: String, n_early: Long,
      n_late: Long, cvm: Double)

  private[streaming] def stat(s: StreamingDriftKs.EarlySide, late: Map[Long, Long],
      nl: Long): Double = {
    val merged = (s.cents ++ late.keysIterator).distinct.sorted
    var cumL = 0L
    var prevE = 0L
    var num = 0.0
    var ei = 0
    merged.foreach { v =>
      while (ei < s.cents.length && s.cents(ei) <= v) ei += 1
      val cumE = if (ei == 0) 0L else s.cumLe(ei - 1)
      val la = late.getOrElse(v, 0L)
      cumL += la
      val w = (cumE - prevE) + la
      // BigInt cross term (r18 wide spelling, the DriftArith rule):
      // Long would wrap silently past ne·nl ≈ 9.2·10¹⁸; the DOUBLE
      // image is the float envelope, unchanged
      val d = (BigInt(cumE) * nl - BigInt(cumL) * s.ne).toDouble
      num += w * d * d
      prevE = cumE
    }
    val tot = (s.ne + nl).toDouble * (s.ne + nl) * s.ne * nl
    BigDecimal(num / tot)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** events: (event_type, cents) — the late-half arrivals; early: the
    * frozen early-half histogram, event_type → (cents level, count). */
  def drift(events: DataFrame, early: Map[String, Seq[(Long, Long)]])
      : Dataset[CvmDrift] = {
    import events.sparkSession.implicits._
    StreamingDriftKs.lateFold(events, early) { (t, s, st) =>
      CvmDrift(t, s.ne, st.nLate, stat(s, st.late, st.nLate))
    }
  }
}
