package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Live rate-spike detection — the incremental twin of x_spike_detect:
  * hourly (event_type, hour, n) rollups arrive as a stream (the
  * upstream windowed count emits them as watermarks close each hour);
  * each type carries its last ≤ 6 observed hourly counts and a flag is
  * emitted the moment an hour exceeds 1.5× the trailing mean — the
  * batch query's exact integer rule (2·n·cnt > 3·sum, ≥ 3 trailing
  * observed hours), over the same ROWS-frame semantics (previous
  * OBSERVED hours; calendar gaps don't widen the window).
  *
  * State is ≤ 6 longs per event type — bounded by the type population,
  * independent of event volume and of history length.
  */
object StreamingSpike {

  final case class SpikeState(counts: Seq[Long])

  /** Emitted when `event_type`'s count at `hour_ms` breaches 1.5× its
    * trailing mean. */
  final case class SpikeFlag(
      event_type: String, hour_ms: Long, n: Long,
      trail_sum: Long, trail_cnt: Long)

  /** rollup: (event_type, hour, n) with `hour` = epoch-ms DIV 3600000.
    * Folded under the [[KeyedFold]] in-order contract per type, sorted
    * by hour. */
  def flags(rollup: DataFrame): Dataset[SpikeFlag] = {
    import rollup.sparkSession.implicits._
    val rows = rollup.select($"event_type", $"hour".cast("long"), $"n".cast("long"))
      .as[(String, Long, Long)]
    KeyedFold(rows)(_._1).fold[SpikeState, SpikeFlag](
        order = Some(Ordering.by(_._2))) { (typ, prev, r, emit) =>
      val (_, hour, n) = r
      val counts = prev.fold(Seq.empty[Long])(_.counts)
      val cnt = counts.length.toLong
      val sum = counts.sum
      if (cnt >= 3 && n * cnt * 2 > sum * 3)
        emit(SpikeFlag(typ, hour * 3600000L, n, sum, cnt))
      SpikeState((counts :+ n).takeRight(6))
    }
  }
}
