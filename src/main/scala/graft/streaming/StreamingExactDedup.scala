package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Ingest-time EXACT dedup — the streaming twin of
  * [[graft.operators.ExactDedup]]: documents arriving on a stream are
  * digested with the same sha2 kernel and checked against the set of
  * digests seen so far, within and ACROSS micro-batches. The first
  * arrival of a text is the keeper; every later verbatim copy emits a
  * (dup_id, keeper_id) row the moment it lands — the online complement
  * of the batch index probe.
  *
  * State is ONE long (the keeper id) PER DISTINCT TEXT, keyed by the
  * 32-byte digest — the same asymptotic footprint as the persisted
  * batch index, sharded by digest across executors (RocksDB at scale);
  * a crawl with d distinct documents carries d entries no matter how
  * many duplicates flow past. Intra-batch copies resolve in arrival
  * (id) order, so keeper semantics equal the batch operator's min-id
  * convention whenever ids are assigned in ingest order.
  */
object StreamingExactDedup {

  final case class Dup(dup_id: Long, keeper_id: Long)

  /** docs: (doc_id bigint, text string) stream → duplicate arrivals.
    *
    * `bootstrapIndex`: path of an [[graft.operators.ExactDedup]] index
    * to preload as initial state — the stream then reports verbatim
    * copies of the batch-indexed corpus from the first micro-batch,
    * resolving to the INDEX keeper ids, with the corpus never flowing
    * through the stream (same online/batch handoff as
    * StreamingNearDup's bootstrapIndex). */
  def dups(
      docs: DataFrame,
      bootstrapIndex: Option[String] = None): Dataset[Dup] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs
      .where($"text".isNotNull)
      .select(sha2($"text", 256).as("digest"), $"doc_id")
      .as[(String, Long)]
    // one state row per digest; min across appends, as in the batch probe
    val initial = bootstrapIndex.map { path =>
      spark.read.parquet(path)
        .groupBy($"digest").agg(min($"keeper_id").as("keeper_id"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapValues(_._2)
    }
    // Option state — no in-band sentinel, so every Long is a legal
    // doc_id. The `id != keeper` guard keeps at-least-once redelivery of
    // the keeper itself (or a stream replaying the bootstrapped corpus)
    // from emitting a self-pair Dup(id, id) — the same guard
    // StreamingNearDup carries.
    KeyedFold(rows)(_._1).fold[Long, Dup](
        order = Some(Ordering.by(_._2)), initial = initial) { (_, keeper, r, emit) =>
      val id = r._2
      keeper match {
        case None => id
        case Some(k) => if (id != k) emit(Dup(id, k)); k
      }
    }
  }
}
