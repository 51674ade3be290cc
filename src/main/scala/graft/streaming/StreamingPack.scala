package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming sequence packing — the incremental twin of
  * x_pack_sequences: documents arrive as a stream already carrying
  * their shard and token count; each shard maintains ONE number of
  * state (the cumulative token offset), and every document is emitted
  * with its packed [seq_id, crossing] assignment as it arrives.
  *
  * Contract matches the batch packer exactly: concat-and-chunk in
  * (shard, doc_id) order with a fixed token budget per training
  * sequence, folded on top of the carried offset under the
  * [[KeyedFold]] in-order contract (sorted by doc_id). State is one
  * Long per shard: bounded by shard count, not corpus size, at any
  * scale.
  */
object StreamingPack {

  final case class PackedDoc(
      shard: Long, doc_id: Long, n_tok: Long, seq_id: Long, crossing: Boolean)

  /** docs: (shard, doc_id, n_tok). Emits one PackedDoc per input doc. */
  def pack(docs: DataFrame, budget: Long): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    val rows = docs.select($"shard".cast("long"), $"doc_id".cast("long"),
        $"n_tok".cast("long"))
      .as[(Long, Long, Long)]
    KeyedFold(rows)(_._1).fold[Long, PackedDoc](
        order = Some(Ordering.by(_._2))) { (shard, prev, r, emit) =>
      val (_, docId, nTok) = r
      val offset = prev.getOrElse(0L)
      val seqId = offset / budget
      val endTok = offset + math.max(nTok - 1, 0)
      emit(PackedDoc(shard, docId, nTok, seqId, nTok > 0 && endTok / budget > seqId))
      offset + nTok
    }
  }
}
