package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.LongAccumulator

/** The keyed fold runtime behind [[StatefulProjection]] and every live
  * twin: photon's projection operator `(fn [prev-state event] new-state)`
  * applied to each key's arrivals in order, with the state held in
  * Spark's state store (checkpointed, RocksDB-routable through
  * [[StateStores]]). This is the only place that touches
  * `flatMapGroupsWithState`; a caller supplies the key, the in-batch
  * ordering and a per-event step, and the runtime owns grouping, state
  * read/update, the sort and the per-key emit buffer.
  *
  * A step sees the key, the key's state so far (None for a key never
  * seen) and one arrival; it returns the new state and may emit rows. A
  * per-batch emitter also passes `summary`, run once per key after the
  * batch's last step with the state before the batch and after it; it
  * may emit and returns the state to keep.
  *
  * IN-ORDER CONTRACT (every order-sensitive twin refers here): a key's
  * arrivals reach the step in order. Within a micro-batch the runtime
  * sorts each key's rows by the caller's ordering; across micro-batches
  * the source must deliver a key's later arrivals in later batches —
  * the append-only log and ingest's monotone stamping give exactly
  * that. Under the contract a live twin's emissions equal its batch
  * query at ANY micro-batch split and across checkpoint restarts.
  * [[Keyed.foldInOrder]] enforces it: an arrival the caller's predicate
  * flags as a reorder against the key's current state is counted in a
  * named accumulator and NOT folded, so parity is void loudly, never
  * silently skewed. The accumulator is created per call and returned
  * with the stream (ADVICE r16: a shared handle is last-writer-wins
  * across concurrent streams in one JVM); zero after a run is the
  * proof the contract held.
  */
object KeyedFold {

  /** `rows` grouped by `key`, ready to fold. */
  def apply[K: Encoder, V](rows: Dataset[V])(key: V => K): Keyed[K, V] =
    new Keyed(rows, key)

  final class Keyed[K: Encoder, V] private[KeyedFold] (
      rows: Dataset[V], key: V => K) {

    /** Fold each key's arrivals with `step`, sorted by `order` when
      * given. `initial` preloads state (read in the first batch only);
      * `mode` is the output mode the sink runs in. */
    def fold[S: Encoder, O: Encoder](
        order: Option[Ordering[V]] = None,
        summary: (K, Option[S], S, O => Unit) => S = keep[K, S, O],
        initial: Option[KeyValueGroupedDataset[K, S]] = None,
        mode: OutputMode = OutputMode.Append())(
        step: (K, Option[S], V, O => Unit) => S): Dataset[O] =
      run(order, summary, initial, mode, None)(step)

    /** [[fold]] under the enforced in-order contract: an arrival for
      * which `isReorder(state, arrival)` holds is counted in the
      * returned accumulator `reorders` and skipped. */
    def foldInOrder[S: Encoder, O: Encoder](reorders: String, order: Ordering[V])(
        isReorder: (S, V) => Boolean)(
        step: (K, Option[S], V, O => Unit) => S): (Dataset[O], LongAccumulator) = {
      val acc = rows.sparkSession.sparkContext.longAccumulator(reorders)
      (run(Some(order), keep[K, S, O], None, OutputMode.Append(),
        Some((isReorder, acc)))(step), acc)
    }

    private def run[S: Encoder, O: Encoder](
        order: Option[Ordering[V]],
        summary: (K, Option[S], S, O => Unit) => S,
        initial: Option[KeyValueGroupedDataset[K, S]],
        mode: OutputMode,
        reorder: Option[((S, V) => Boolean, LongAccumulator)])(
        step: (K, Option[S], V, O => Unit) => S): Dataset[O] = {
      val f = (k: K, it: Iterator[V], state: GroupState[S]) => {
        val out = ArrayBuffer.empty[O]
        val emit: O => Unit = out += _
        val before = state.getOption
        var s = before
        order.fold(it)(o => it.toSeq.sorted(o).iterator).foreach { v =>
          reorder match {
            case Some((isReorder, acc)) if s.exists(isReorder(_, v)) => acc.add(1L)
            case _ => s = Some(step(k, s, v, emit))
          }
        }
        s.foreach(after => state.update(summary(k, before, after, emit)))
        out.iterator
      }
      val grouped = rows.groupByKey(key)
      initial match {
        case None =>
          grouped.flatMapGroupsWithState(mode, GroupStateTimeout.NoTimeout())(f)
        case Some(init) =>
          grouped.flatMapGroupsWithState(mode, GroupStateTimeout.NoTimeout(), init)(f)
      }
    }
  }

  private def keep[K, S, O]: (K, Option[S], S, O => Unit) => S = (_, _, s, _) => s
}

