package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.OutputMode

import graft.eventstore.{Event, Fold, ProjRow}

/** The live execution of an arbitrary (possibly non-commutative)
  * projection fold — photon's core operator (reference streams.clj:
  * 125-161: one event at a time, in order, state in an STM ref) mapped to
  * [[KeyedFold]]: state lives in Spark's state store, sharded by
  * stream_name, checkpointed (photon rebuilds state by re-folding the log
  * on restart, streams.clj:255-259; here the state store IS the resume
  * point — same capability, exactly-once).
  *
  * Ordering: events are folded in order_id order under the
  * [[KeyedFold]] in-order contract. Failure semantics mirror the reference (streams.clj:
  * 90-97): the first error freezes the state at the last good value and
  * the descriptor carries status=failed + the error.
  */
object StatefulProjection {

  final case class ProjState[S](
      value: S, processed: Long, error: Option[String], stepNs: Long = 0L)

  /** Product-encoded state (S concrete at the call site; with
    * `import spark.implicits._` the ProjState encoder derives). */
  def run[S](events: Dataset[Event], fold: Fold[S])(
      implicit stateEnc: Encoder[ProjState[S]],
      encRow: Encoder[ProjRow[S]]): Dataset[ProjRow[S]] =
    runWithEncoders(events, fold)

  /** Simpler entry: the state is encoded with the Kryo fallback (opaque
    * blob) — fine for projection state, which is only read back by this
    * operator. Use `run` with product encoders where S is a case class
    * and columnar state matters. */
  def runKryo[S](events: Dataset[Event], fold: Fold[S])(
      implicit encRow: Encoder[ProjRow[S]]): Dataset[ProjRow[S]] = {
    implicit val stateEnc: Encoder[ProjState[S]] = Encoders.kryo[ProjState[S]]
    runWithEncoders(events, fold)
  }

  private def runWithEncoders[S](events: Dataset[Event], fold: Fold[S])(
      implicit stateEnc: Encoder[ProjState[S]],
      encRow: Encoder[ProjRow[S]]): Dataset[ProjRow[S]] = {
    import events.sparkSession.implicits._
    // in-batch replay order = order_id order (the reference's
    // single-threaded in-order guarantee)
    KeyedFold(events)(_.stream_name).fold[ProjState[S], ProjRow[S]](
      order = Some(Ordering.by(_.order_id)),
      mode = OutputMode.Update(),
      summary = { (stream, _, p, emit) =>
        val bytes = Option(p.value).map(_.toString.getBytes("UTF-8").length.toLong)
          .getOrElse(0L)
        emit(ProjRow(fold.name, stream, p.value, p.processed,
          if (p.error.isDefined) "failed" else "running", p.error,
          if (p.processed > 0) p.stepNs / 1000.0 / p.processed else 0.0, bytes))
        p
      }) { (_, prev, e, _) =>
      val p = prev.getOrElse(ProjState(fold.initial, 0L, None))
      if (p.error.isDefined) p // the first error froze the state
      else {
        val t0 = System.nanoTime()
        try {
          val v = fold.step(p.value, e)
          ProjState(v, p.processed + 1, None, p.stepNs + System.nanoTime() - t0)
        } catch { case ex if scala.util.control.NonFatal(ex) =>
          p.copy(error = Some(s"${ex.getClass.getName}: ${ex.getMessage}"),
            stepNs = p.stepNs + System.nanoTime() - t0)
        }
      }
    }
  }
}
