package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{expr, lit}

/** Live Benford first-digit screen — the 33rd streaming twin,
  * incremental over x_value_benford: the fraud/unit-mix audit as a
  * LIVE monitor (a producer switching cents for dollars, or an
  * injection of synthetic traffic, bends the leading-digit profile
  * within minutes — exactly the read you want against the stream, not
  * the nightly batch).
  *
  * A first digit is a per-event fact — append-only, no retraction —
  * so state is NINE longs... except the batch row also needs the
  * cross-digit TOTAL for share_bp, which a per-digit group cannot
  * see. The state therefore keys on ONE constant group holding the
  * 9-long histogram (the batch query is a 9-row GLOBAL read — there
  * is nothing to shard). Declared cost shape: the single group
  * receives the micro-batch's digit rows; Structured Streaming
  * forbids an aggregate ahead of a stateful fold in one query,
  * so at 100 TB the production topology is two stages (a per-batch
  * (digit, count) rollup streamed into this fold) — the fold itself
  * already consumes (digit, weight) rows unchanged, so that split is
  * a deployment choice, not a rewrite; here each row carries
  * weight 1.
  *
  * Emissions re-derive the batch columns with the batch operand trees
  * (integer trunc divisions against the EXACT constant expectation
  * table floor(log₁₀(1+1/d)·10⁴)) — bit-identical to the
  * oracle-hash-matched batch row at any prefix. Zero/negative cents
  * carry no leading digit and are filtered identically (the declared
  * domain). */
object StreamingBenford {

  final case class BenfordState(n: Array[Long])

  final case class BenfordRow(digit: Long, n: Long, share_bp: Long,
      expected_bp: Long, dev_bp: Long)

  private val expected =
    Array(3010L, 1760L, 1249L, 969L, 791L, 669L, 579L, 511L, 457L)

  /** events: one `cents` column (exact money integer). */
  def profile(events: DataFrame): Dataset[BenfordRow] = {
    import events.sparkSession.implicits._
    val rows = events.select($"cents".cast("long"))
      .where($"cents" >= 1L)
      .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)")
        .as("digit"), lit(1L).as("bn"))
      .as[(Long, Long)]
    KeyedFold(rows)(_ => 0).fold[BenfordState, BenfordRow](
        summary = { (_, _, st, emit) =>
          val n = st.n
          val total = n.sum
          (0 until 9).filter(i => n(i) > 0L).foreach { i =>
            val share = n(i) * 10000L / total
            emit(BenfordRow(i + 1L, n(i), share, expected(i),
              math.abs(share - expected(i))))
          }
          st
        }) { (_, prev, r, _) =>
      val n = prev.fold(Array.fill(9)(0L))(_.n.clone())
      n((r._1 - 1L).toInt) += r._2
      BenfordState(n)
    }
  }
}
