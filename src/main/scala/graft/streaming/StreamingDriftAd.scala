package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live Anderson–Darling drift — the 41st streaming twin, keeping the
  * drift family's live side complete at nine of nine: the frozen early
  * histogram artifact + [[StreamingDriftKs.KsState]] a FOURTH time
  * (the re-weighting argument once more — the pooled cumulative count
  * in every denominator re-weights with n_late, so the full late
  * histogram is forced). The walk is the batch x_drift_ad sum:
  * A² = Σ w·D²/(ne·nl·cumN·(N−cumN)) over merged levels with
  * cumN < N, executed with the batch's operand trees (the
  * x_drift_chi2 double envelope), emitted round-4.
  *
  * Parity: round-4 absorbs the batch partition-order vs twin
  * ascending-order float-sum skew (the CvM twin's rule), and the spec
  * pins equality against the oracle-hash-matched batch row — stream ≡
  * batch ≡ DuckDB. Types absent from the early half emit nothing. */
object StreamingDriftAd {

  final case class AdDrift(event_type: String, n_early: Long,
      n_late: Long, ad: Double)

  private[streaming] def stat(s: StreamingDriftKs.EarlySide, late: Map[Long, Long],
      nl: Long): Double = {
    val merged = (s.cents ++ late.keysIterator).distinct.sorted
    val n = s.ne + nl
    var cumL = 0L
    var prevE = 0L
    var sum = 0.0
    var ei = 0
    merged.foreach { v =>
      while (ei < s.cents.length && s.cents(ei) <= v) ei += 1
      val cumE = if (ei == 0) 0L else s.cumLe(ei - 1)
      val la = late.getOrElse(v, 0L)
      cumL += la
      val w = (cumE - prevE) + la
      val cumN = cumE + cumL
      if (cumN < n) {
        // BigInt cross term (r18 wide spelling, the DriftArith rule)
        val d = (BigInt(cumE) * nl - BigInt(cumL) * s.ne).toDouble
        sum += w * d * d /
          (s.ne.toDouble * nl * cumN * (n - cumN))
      }
      prevE = cumE
    }
    BigDecimal(sum).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** events: (event_type, cents) — the late-half arrivals; early: the
    * frozen early-half histogram, event_type → (cents level, count). */
  def drift(events: DataFrame, early: Map[String, Seq[(Long, Long)]])
      : Dataset[AdDrift] = {
    import events.sparkSession.implicits._
    StreamingDriftKs.lateFold(events, early) { (t, s, st) =>
      AdDrift(t, s.ne, st.nLate, stat(s, st.late, st.nLate))
    }
  }
}
