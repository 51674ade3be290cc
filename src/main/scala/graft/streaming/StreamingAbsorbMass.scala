package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Live absorbing-chain mass — the 24th streaming twin, incremental
  * over x_markov_absorb's LIVE columns: per event type, how many
  * occurrences have been followed by another event of the same user
  * (n_out) vs how many currently sit stream-final (n_end — the
  * absorption mass the chain's expected-steps read conditions on),
  * maintained as events arrive.
  *
  * The retraction problem, dissolved: "which event is a user's last"
  * CHANGES with every arrival, so n_end is not an append-only count —
  * but n_end(t) ≡ arrivals(t) − n_out(t), and BOTH terms on the right
  * are append-only. Each arrival therefore emits one ("arr", type)
  * plus, when it consumes a predecessor, one ("out", prev_type); any
  * counting sink then reproduces the batch query's live columns
  * exactly, with no retraction machinery at all (the identity holds
  * because every occurrence is either followed or final — the same
  * structural fact that makes the batch chain substochastic).
  *
  * State per user is ONE event type string ([[StreamingPaths]]'s
  * constant-bytes discipline, one slot smaller), folded under the
  * [[KeyedFold]] in-order contract sorted by (ts_us, event_id) — the
  * batch query's own lead-window order.
  *
  * Trust chain: the batch x_markov_absorb is oracle-hash-matched, so
  * the parity spec's equality pins stream ≡ batch ≡ DuckDB for the
  * live mass columns across micro-batch splits. At 100 TB: state is
  * |users| × one string (sharded by user across executors);
  * emissions are two tiny rows per event into whatever counting sink
  * the deployment already runs. */
object StreamingAbsorbMass {

  final case class LastType(t: String)

  final case class MassHit(side: String, event_type: String)

  /** events: (user_id, ts_us, event_id, event_type). */
  def emissions(events: DataFrame): Dataset[MassHit] = {
    import events.sparkSession.implicits._
    val rows = events.select("user_id", "ts_us", "event_id", "event_type")
      .as[(Long, Long, Long, String)]
    KeyedFold(rows)(_._1).fold[LastType, MassHit](
        order = Some(Ordering.by(r => (r._2, r._3)))) { (_, prev, r, emit) =>
      emit(MassHit("arr", r._4))
      prev.map(_.t).filter(_ != null).foreach(last => emit(MassHit("out", last)))
      LastType(r._4)
    }
  }

  /** Fold a table of emissions into the batch query's live columns
    * (event_type, n_out, n_end) — the read a monitor runs over
    * whatever sink collected the emissions. */
  def massOf(emissions: DataFrame): DataFrame = {
    def n(side: String): Column =
      sum(when(col("side") === side, 1L).otherwise(0L))
    emissions.groupBy(col("event_type"))
      .agg(n("out").as("n_out"), (n("arr") - n("out")).as("n_end"))
      .orderBy(col("event_type"))
  }
}
