package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.util.LongAccumulator
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

object KeyedFoldSpec {
  final case class Arrival(k: Long, seq: Long, x: Long)
  final case class Chain(n: Long, last: Long, h: Long)
  final case class Out(k: Long, seq: Long, n: Long, h: Long)

  /** An order-sensitive fold: any reordering of a key's arrivals changes h. */
  def chain(prev: Option[Chain], a: Arrival): Chain = {
    val p = prev.getOrElse(Chain(0L, Long.MinValue, 17L))
    Chain(p.n + 1L, a.seq, p.h * 31L + a.x)
  }

  /** The batch answer: each key's arrivals folded in seq order. */
  def reference(rows: Seq[Arrival]): Map[Long, Out] =
    rows.groupBy(_.k).map { case (k, rs) =>
      val c = rs.sortBy(_.seq).foldLeft(Option.empty[Chain])((s, a) => Some(chain(s, a))).get
      k -> Out(k, c.last, c.n, c.h)
    }

  def lastPerKey(outs: Seq[Out]): Map[Long, Out] =
    outs.groupBy(_.k).map { case (k, os) => k -> os.maxBy(_.seq) }
}

/** The keyed fold runtime itself, on seeded in-order input: the last
  * emission per key must not depend on how the stream is cut into
  * micro-batches, on a checkpoint restart, or on the state-store
  * provider, and an out-of-order arrival must be counted and skipped. */
class KeyedFoldSpec extends AnyFunSuite with SparkTestBase {
  import KeyedFoldSpec._

  /** Seeded in-order inputs: seq is unique and increasing, keys interleave. */
  private val inputGen = for {
    n <- Gen.chooseNum(40, 120)
    keys <- Gen.listOfN(n, Gen.chooseNum(0L, 7L))
    xs <- Gen.listOfN(n, Gen.chooseNum(0L, 1000L))
  } yield keys.zip(xs).zipWithIndex.map { case ((k, x), i) => Arrival(k, i.toLong, x) }

  /** Random cut points; each micro-batch is shuffled, so only the runtime's
    * in-batch sort puts a key's arrivals back in order. */
  private def split(rows: Seq[Arrival], seed: Long): Seq[Seq[Arrival]] = {
    val rnd = new scala.util.Random(seed)
    val cuts = (0 to rnd.nextInt(4)).map(_ => rnd.nextInt(rows.size)).distinct.sorted
    (0 +: cuts :+ rows.size).sliding(2).collect {
      case Seq(a, b) if b > a => rnd.shuffle(rows.slice(a, b))
    }.toSeq
  }

  private def inOrder(rows: Dataset[Arrival]): (Dataset[Out], LongAccumulator) = {
    import spark.implicits._
    KeyedFold(rows)(_.k).foldInOrder[Chain, Out]("keyedfoldspec.reorders",
        Ordering.by(_.seq))((st, a) => a.seq <= st.last) { (k, prev, a, emit) =>
      val c = chain(prev, a)
      emit(Out(k, a.seq, c.n, c.h))
      c
    }
  }

  /** Feeds one micro-batch per element of `batches` through `fold`,
    * restarting the query from its checkpoint before batch `restartAt`;
    * returns every emission and the reorders counted across incarnations. */
  private def run(batches: Seq[Seq[Arrival]], restartAt: Int = -1)(
      fold: Dataset[Arrival] => (Dataset[Out], LongAccumulator) = inOrder)
      : (Seq[Out], Long) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Arrival]
    val ckpt = tmpDir("keyedfold")
    val seen = new ConcurrentLinkedQueue[Out]()
    def start() = {
      val (out, acc) = fold(mem.toDS())
      val q = out.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((b: Dataset[Out], _: Long) => b.collect().foreach(seen.add))
        .start()
      (q, acc)
    }
    var (q, acc) = start()
    var reorders = 0L
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        if (i == restartAt) {
          q.stop()
          reorders += acc.value
          val next = start(); q = next._1; acc = next._2
        }
        mem.addData(b)
        q.processAllAvailable()
      }
    } finally q.stop()
    (seen.asScala.toSeq, reorders + acc.value)
  }

  private val inputs = Iterator.iterate(rng.Seed(7L))(_.next).take(3)
    .map(s => inputGen.pureApply(Gen.Parameters.default, s)).toList

  test("property: the last emission per key is the same for one batch and " +
      "random micro-batch splits (ScalaCheck)") {
    inputs.zipWithIndex.foreach { case (rows, i) =>
      val want = reference(rows)
      val (whole, r1) = run(Seq(rows))()
      val batches = split(rows, i.toLong)
      val (cut, r2) = run(batches)()
      assert(lastPerKey(whole) == want, s"input#$i: one batch diverged from the batch fold")
      assert(lastPerKey(cut) == want,
        s"input#$i: ${batches.size} micro-batches diverged from one batch")
      assert(whole.size == rows.size && cut.size == rows.size)
      assert(r1 == 0L && r2 == 0L, s"input#$i: in-order input counted reorders")
    }
  }

  test("a run that stops and restarts from its checkpoint folds on from " +
      "the checkpointed state") {
    val rows = inputs.head
    val (a, b) = rows.splitAt(rows.size / 2)
    val first = split(a, 11L)
    val (outs, reorders) = run(first ++ split(b, 12L), restartAt = first.size)()
    assert(lastPerKey(outs) == reference(rows))
    assert(reorders == 0L)
  }

  test("the RocksDB state store gives the same last emission per key as " +
      "the default provider") {
    val rows = inputs(1)
    val batches = split(rows, 5L)
    val (heap, _) = run(batches)()
    StateStores.useRocksDB(spark)
    val (rocks, reorders) =
      try run(batches, restartAt = batches.size - 1)()
      finally StateStores.useDefault(spark)
    assert(lastPerKey(rocks) == lastPerKey(heap))
    assert(lastPerKey(rocks) == reference(rows))
    assert(reorders == 0L)
  }

  test("an arrival injected out of order is counted in the returned " +
      "accumulator and not folded") {
    val rows = inputs(2)
    val (early, late) = rows.splitAt(rows.size / 2)
    val victim = early.last
    // older than the key's last folded arrival: a reorder
    val stale = Arrival(victim.k, victim.seq - 1000L, 999L)
    val (outs, reorders) = run(Seq(early, Seq(stale), late))()
    assert(reorders == 1L)
    assert(!outs.exists(_.seq == stale.seq), "the reorder was folded and emitted")
    // later arrivals fold on the state the reorder did not touch
    assert(lastPerKey(outs) == reference(rows))
  }

  test("a per-batch summary sees the state before and after each batch") {
    val rows = inputs.head
    val batches = split(rows, 3L)
    // per key per batch: the batch's last seq, arrivals folded in it, and h
    val (outs, _) = run(batches) { ds =>
      import spark.implicits._
      // fold enforces no contract, so nothing is ever counted here
      val acc = spark.sparkContext.longAccumulator("keyedfoldspec.none")
      val out = KeyedFold(ds)(_.k).fold[Chain, Out](
          order = Some(Ordering.by(_.seq)),
          summary = { (k, before, after, emit) =>
            emit(Out(k, after.last, after.n - before.fold(0L)(_.n), after.h))
            after
          })((_, prev, a, _) => chain(prev, a))
      (out, acc)
    }
    val batchesPerKey = batches.flatMap(_.map(_.k).distinct).groupBy(identity)
      .map { case (k, ks) => k -> ks.size }
    assert(outs.groupBy(_.k).map { case (k, os) => k -> os.size } == batchesPerKey)
    assert(outs.groupBy(_.k).map { case (k, os) => k -> os.map(_.n).sum } ==
      rows.groupBy(_.k).map { case (k, rs) => k -> rs.size.toLong })
    assert(lastPerKey(outs).map { case (k, o) => k -> o.h } ==
      reference(rows).map { case (k, o) => k -> o.h })
  }
}
