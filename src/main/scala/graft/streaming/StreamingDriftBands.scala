package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live banded drift (PSI + χ²) — the 29th streaming twin, closing the
  * drift family's live side: TVD ([[StreamingDrift]]), location
  * ([[StreamingDriftMw]]), shape ([[StreamingDriftKs]]) and now the
  * BANDED score pair x_drift_psi / x_drift_chi2, which share one
  * state by construction (both read the same ten equal-population
  * early-reference bands), so ONE twin serves both — the monitoring
  * deployment that thresholds PSI at 0.1/0.25 reads χ²/dof from the
  * same row.
  *
  * WORKSHEET: the band of a value is determined by the EARLY ECDF
  * alone — bin(v) = least(9, greatest(0, (cumE(v)−1)·10 DIV ne)) with
  * cumE(v) = #early ≤ v — so the frozen artifact (level-sorted early
  * cents + prefix counts, the [[StreamingDriftMw]] shape, plus the
  * per-band early counts ce(b) derived once at build) makes each
  * arrival a BINARY SEARCH + one band-counter increment: state per
  * type is ten longs (cl per band) + n_late — constant bytes,
  * independent of both arrival volume and the quantizer. Unlike KS,
  * no merged-level walk is needed at emission: both statistics are
  * ≤ 10-term sums over the bands. The negative-operand division at
  * cumE = 0 truncates identically in Scala and the batch engines
  * (the SCALING trunc rule: −10/ne → 0 for ne > 10, −1 → clamped to
  * 0 by greatest) — replayed here with the same max(0, min(9, ·))
  * wrap. Bands with ce + cl = 0 are ABSENT from the batch rollup
  * (no level maps there) and are skipped identically here, so
  * n_bins / dof match.
  *
  * Float policy: the emission recomputes PSI and χ² with the batch
  * queries' own double operand trees (ε = 10⁻⁴ clamps; the exact-
  * BIGINT cross term squared in double) over ≤ 10 band terms,
  * round-4 — bit-equal to the batch rows at any prefix in the parity
  * spec (the batch pair is oracle-hash-matched, chaining stream ≡
  * batch ≡ DuckDB). Types absent from the early half emit nothing
  * (the artifact-boundary drop rule).
  *
  * At 100 TB: artifact = the early histogram (quantizer-bounded);
  * state = 11 longs per type; arrivals O(log levels); emissions one
  * tiny row per (type, micro-batch). */
object StreamingDriftBands {

  final case class BandState(cl: Array[Long], nLate: Long)

  final case class BandsDrift(event_type: String, n_early: Long,
      n_late: Long, n_bins: Long, psi: Double, dof: Long, chi2: Double)

  /** One type's frozen early side: level-sorted cents with prefix
    * counts plus the ten early band counts. */
  private final case class EarlyBands(cents: Array[Long],
      cumLe: Array[Long], ne: Long, ce: Array[Long])

  private def bin(cumE: Long, ne: Long): Int =
    math.max(0L, math.min(9L, (cumE - 1L) * 10L / ne)).toInt

  private def build(hist: Map[String, Seq[(Long, Long)]])
      : Map[String, EarlyBands] =
    hist.collect { case (t, levels) if levels.nonEmpty =>
      val sorted = levels.sortBy(_._1).toArray
      val cents = sorted.map(_._1)
      val eq = sorted.map(_._2)
      val cumLe = eq.scanLeft(0L)(_ + _).drop(1)
      val ne = cumLe.last
      val ce = Array.fill(10)(0L)
      var i = 0
      while (i < cents.length) {
        ce(bin(cumLe(i), ne)) += eq(i)
        i += 1
      }
      t -> EarlyBands(cents, cumLe, ne, ce)
    }

  /** events: (event_type, cents) — the late-half arrivals; early: the
    * frozen early-half histogram, event_type → (cents level, count). */
  def drift(events: DataFrame, early: Map[String, Seq[(Long, Long)]])
      : Dataset[BandsDrift] = {
    import events.sparkSession.implicits._
    val sides = build(early)
    require(sides.nonEmpty, "early reference must be non-empty")
    val rows = events.select($"event_type", $"cents".cast("long"))
      .as[(String, Long)]
      .filter(r => sides.contains(r._1)) // no early mass: the batch drop rule
    KeyedFold(rows)(_._1).fold[BandState, BandsDrift](
        summary = { (t, _, st, emit) =>
          val s = sides(t)
          val cl = st.cl
          val nl = st.nLate
          // both statistics over the present bands, with the batch
          // queries' own double operand trees
          var nBins = 0L
          var psi = 0.0
          var chi2 = 0.0
          var b = 0
          while (b < 10) {
            val ceB = s.ce(b)
            val clB = cl(b)
            if (ceB > 0L || clB > 0L) {
              nBins += 1L
              val pl = math.max(clB.toDouble / nl, 0.0001)
              val pe = math.max(ceB.toDouble / s.ne, 0.0001)
              psi += (pl - pe) * math.log(pl / pe)
              // BigInt cross term (r18 wide spelling, DriftArith)
              val cross = (BigInt(ceB) * nl - BigInt(clB) * s.ne).toDouble
              chi2 += cross * cross * (s.ne + nl) /
                (s.ne.toDouble * nl * (ceB + clB))
            }
            b += 1
          }
          def r4(x: Double): Double =
            BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          emit(BandsDrift(t, s.ne, nl, nBins, r4(psi), nBins - 1L, r4(chi2)))
          st
        }) { (t, prev, r, _) =>
      val s = sides(t)
      val cl = prev.fold(Array.fill(10)(0L))(_.cl.clone())
      val p = java.util.Arrays.binarySearch(s.cents, r._2)
      val i = if (p >= 0) p else -(p + 1) - 1 // level ≤ v, or -1
      cl(bin(if (i < 0) 0L else s.cumLe(i), s.ne)) += 1L
      BandState(cl, prev.fold(0L)(_.nLate) + 1L)
    }
  }
}
