package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.FreqItems

/** Live heavy-hitters — the incremental twin of x_freq_items: a
  * Misra-Gries sketch maintained per hash bucket over a token stream,
  * emitting each bucket's current candidate set every micro-batch.
  *
  * Sharding by `xxhash64(token) % buckets` keeps every bucket's state
  * independent and BOUNDED (≤ k counters + 2 longs each, constant
  * bytes total at any stream length) while spreading update load
  * across the cluster — the same state discipline as the other live
  * twins (StreamingPaths holds 2 strings/user, this holds k counters/
  * bucket). Because a token always lands in the same bucket, the
  * per-bucket MG guarantee applies verbatim: any token with true count
  * > N_bucket/(k+1) is present in that bucket's candidates, so the
  * union of candidates ⊇ the stream's heavy hitters, and an exact
  * rescoring join (exactly x_freq_items' second pass) turns the union
  * into the exact top-m. The parity spec drives corpus-as-stream
  * through 3 batches and proves the rescored top-10 equals the batch
  * answer.
  *
  * Emissions carry a per-bucket generation counter; downstream keeps
  * each bucket's max-gen rows (append-mode memory sinks accumulate
  * every batch's emission — gen disambiguates without needing
  * update-mode sinks).
  */
object StreamingTopK {

  /** Bucket state: the MG buffer plus an emission generation. */
  final case class TopKState(counters: Map[String, Long], total: Long,
      gen: Long)

  /** One candidate emission: bucket's current lower-bound estimate for
    * a token, the bucket's exact token count so far, and the
    * generation (batch ordinal within this bucket) it was emitted at. */
  final case class Cand(bucket: Int, gen: Long, token: String, est: Long,
      n_bucket: Long)

  /** tokens: a DataFrame with a single `token` string column. */
  def candidates(tokens: DataFrame, buckets: Int = 16, k: Int = 64): Dataset[Cand] = {
    import tokens.sparkSession.implicits._
    val mg = FreqItems.MG(k)
    val rows = tokens
      .select(pmod(xxhash64(col("token")), lit(buckets)).cast("int").as("bucket"),
        col("token"))
      .as[(Int, String)]
    KeyedFold(rows)(_._1).fold[TopKState, Cand](
        summary = { (bucket, before, st, emit) =>
          val gen = before.fold(0L)(_.gen) + 1L
          st.counters.foreach { case (t, c) => emit(Cand(bucket, gen, t, c, st.total)) }
          st.copy(gen = gen)
        }) { (_, prev, r, _) =>
      val p = prev.getOrElse(TopKState(Map.empty, 0L, 0L))
      val buf = mg.reduce(FreqItems.MGBuf(p.counters, p.total), r._2)
      TopKState(buf.counters, buf.total, p.gen)
    }
  }
}
