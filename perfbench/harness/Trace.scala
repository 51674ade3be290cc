package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same base as the epoch-ms times Spark's listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Spans {
  /** Total length of the union of `xs`, clipped to [a, b]. */
  def covered(xs: Iterable[(Double, Double)], a: Double, b: Double): Double = {
    val clipped = xs.iterator.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    clipped.foreach { case (s, e) =>
      if (cs.isNaN || s > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = s; ce = e
      } else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}

/** Process-level counters read from the JVM's management beans and from
  * Spark's codegen metrics. Reading them needs no listener, so untraced
  * runs take the same readings at the same points. */
final case class JvmCounters(jitMs: Long, gcMs: Long, codegenClasses: Long)

object JvmCounters {
  def read(): JvmCounters = JvmCounters(
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L),
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** Everything the traced run records. Listener callbacks only append to
  * in-memory buffers; the spans and counters are turned into metrics once,
  * after the workload has finished. */
final class Tracer(spark: SparkSession) {

  import Tracer._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val phases = mutable.ArrayBuffer.empty[Phases]
  val triggers = mutable.ArrayBuffer.empty[Trigger]
  val stages = mutable.ArrayBuffer.empty[(Int, Double, Double)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs += Job(e.jobId, group, e.time.toDouble, Double.NaN)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stages += ((i.stageId, s.toDouble, c.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
        tasks += Task(e.stageId, i.finishTime.toDouble, i.duration, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, math.max(0L, sched), m.inputMetrics.recordsRead,
          m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled, !i.successful)
      } else tasks += Task(e.stageId, i.finishTime.toDouble, i.duration, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, !i.successful)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ps = qe.tracker.phases
      def ms(p: String) = ps.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val iv = ps.values.map(s => (s.startTimeMs.toDouble, s.endTimeMs.toDouble)).toSeq
      if (iv.nonEmpty)
        phases += Phases(iv.map(_._1).min, ms("analysis"), ms("optimization"), ms("planning"), iv)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      if (p.numInputRows > 0) {
        val ops = p.stateOperators.toSeq
        triggers += Trigger(Option(p.name).getOrElse(p.id.toString),
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.numRowsUpdated).sum, ops.map(_.commitTimeMs).sum)
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Listener events arrive asynchronously; wait for the bus to drain. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def pending = synchronized(jobs.exists(_.end.isNaN))
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def jobIntervals: Seq[(Double, Double)] = synchronized {
    jobs.iterator.filter(!_.end.isNaN).map(j => (j.start, j.end)).toSeq
  }

  /** Executor-side counters summed over the tasks that finished in [a, b]. */
  def execMetrics(a: Double, b: Double, cores: Int): Seq[(String, Double)] = synchronized {
    val tasks = this.tasks.filter(t => t.finish >= a && t.finish <= b)
    val jobs = this.jobs.filter(j => j.start >= a && j.start <= b)
    val wallMs = b - a
    def sum(f: Task => Long) = tasks.iterator.map(f).sum.toDouble
    val cpuMs = sum(_.cpuNs) / 1e6
    val skews = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durationMs.toDouble).sorted.toSeq
      val med = Stats.quantile(d, 0.5)
      if (med > 0) d.last / med else 1.0: Double
    }.toSeq.sorted
    Seq(
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> tasks.map(_.stage).distinct.size.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.run_ms" -> sum(_.runMs),
      "exec.cpu_ms" -> cpuMs,
      "exec.gc_ms" -> sum(_.gcMs),
      "exec.scheduler_wait_ms" -> sum(_.schedMs),
      "exec.input_rows" -> sum(_.inRows),
      "exec.input_bytes" -> sum(_.inBytes),
      "exec.shuffle_write_bytes" -> sum(_.shWrite),
      "exec.shuffle_read_bytes" -> sum(_.shRead),
      "exec.fetch_wait_ms" -> sum(_.fetchWaitMs),
      "exec.spill_bytes" -> sum(_.spill),
      "exec.task_failures" -> tasks.count(_.failed).toDouble,
      "exec.stage_skew" -> (if (skews.isEmpty) 1.0 else Stats.quantile(skews, 0.5)),
      "exec.cpu_busy" -> (if (wallMs > 0) cpuMs / (wallMs * cores) else 0.0))
  }

  /** Per-trigger progress of the live queries, for triggers started in [a, b]. */
  def streamingMetrics(a: Double, b: Double): Seq[(String, Double)] = synchronized {
    val triggers = this.triggers.filter(t => t.start >= a && t.start <= b)
    def dur(k: String) = triggers.iterator.map(_.ms.getOrElse(k, 0L)).sum.toDouble
    val trig = triggers.map(_.ms.getOrElse("triggerExecution", 0L).toDouble).sorted.toSeq
    // state size at the end of the run: the last trigger of each query
    val last = triggers.groupBy(_.query).values.map(_.maxBy(_.start))
    Seq(
      "streaming.triggers" -> triggers.size.toDouble,
      "streaming.trigger_ms_p50" -> Stats.quantile(trig, 0.5),
      "streaming.trigger_ms_max" -> trig.lastOption.getOrElse(0.0),
      "streaming.addbatch_ms" -> dur("addBatch"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.planning_ms" -> dur("queryPlanning"),
      "streaming.walcommit_ms" -> dur("walCommit"),
      "streaming.state_commit_ms" -> triggers.iterator.map(_.commitMs).sum.toDouble,
      "streaming.state_rows" -> last.map(_.stateRows).sum.toDouble,
      "streaming.state_bytes" -> last.map(_.stateBytes).sum.toDouble,
      "streaming.rows_updated" -> triggers.iterator.map(_.rowsUpdated).sum.toDouble)
  }

  def triggerIntervals: Seq[(Double, Double)] = synchronized {
    triggers.map(t => (t.start, t.start + t.ms.getOrElse("triggerExecution", 0L))).toSeq
  }
}

object Tracer {
  final case class Job(id: Int, group: String, start: Double, var end: Double)
  final case class Task(stage: Int, finish: Double, durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      schedMs: Long, inRows: Long, inBytes: Long, shWrite: Long, shRead: Long,
      fetchWaitMs: Long, spill: Long, failed: Boolean)
  final case class Phases(start: Double, analysis: Double, optimization: Double,
      planning: Double, intervals: Seq[(Double, Double)])
  final case class Trigger(query: String, start: Double, ms: Map[String, Long],
      stateRows: Long, stateBytes: Long, rowsUpdated: Long, commitMs: Long)
}

object Stats {
  /** Linear-interpolated quantile of an ascending sequence; 0 when empty. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}

/** Splits the traced run's wall time, JVM start to last row, into layer
  * self times. Inside an operation the innermost layer wins: Spark jobs
  * (exec), then Catalyst phases, then the call that encloses them
  * (construction, sink, append). What no span covers is reported as
  * unattributed. */
object SelfTime {
  import Harness.Run

  def of(r: Run, t: Tracer, jvmStart: Double, ready: Double): Seq[(String, Double)] = {
    val jobs = t.jobIntervals
    val plans = t.synchronized(t.phases.flatMap(_.intervals).toSeq)
    val inner = jobs ++ plans
    val triggers = t.triggerIntervals
    val self = mutable.LinkedHashMap("setup" -> (ready - jvmStart), "prepare" -> 0.0,
      "construct" -> 0.0, "catalyst" -> 0.0, "exec" -> 0.0, "sink" -> 0.0, "append" -> 0.0,
      "trigger" -> 0.0, "stream_wait" -> 0.0, "replay" -> 0.0, "fold" -> 0.0, "harness" -> 0.0)
    def add(k: String, ms: Double): Unit = self(k) += ms
    val firstOp = r.ops.headOption.map(_.start).getOrElse(r.lastRow)
    add("prepare", firstOp - ready)
    r.ops.foreach { o =>
      if (o.name == "replay") { add("replay", o.mid - o.start); add("fold", o.end - o.mid) }
      else if (o.name.startsWith("batch")) {
        val trig = Spans.covered(triggers, o.mid, o.end)
        add("append", o.mid - o.start); add("trigger", trig); add("stream_wait", o.end - o.mid - trig)
      } else {
        val exec = Spans.covered(jobs, o.start, o.end)
        add("exec", exec)
        add("catalyst", Spans.covered(inner, o.start, o.end) - exec)
        add("construct", o.mid - o.start - Spans.covered(inner, o.start, o.mid))
        add("sink", o.end - o.mid - Spans.covered(inner, o.mid, o.end))
      }
    }
    add("harness", Spans.covered(r.harnessSpans, firstOp, r.lastRow))
    val wall = r.lastRow - jvmStart
    val unattributed = wall - self.values.sum
    val queries = r.ops.filterNot(o => o.name == "replay" || o.name.startsWith("batch")).toSeq
    val construct = queries.map(o => o.mid - o.start).sorted
    val planPhases = t.synchronized(t.phases.filter(p => p.start >= r.start && p.start <= r.lastRow).toSeq)
    val eager = t.synchronized(t.jobs.count(j => j.group.endsWith(":construct") &&
      j.start >= r.start && j.start <= r.lastRow))
    self.toSeq.map { case (k, v) => s"self.${k}_ms" -> v } ++ Seq(
      "self.unattributed_ms" -> unattributed,
      "trace.attributed_frac" -> (if (wall > 0) 1.0 - unattributed / wall else 0.0),
      "trace.e2e_wall_s" -> wall / 1e3,
      "queries.construct_ms_sum" -> construct.sum,
      "queries.construct_ms_p50" -> Stats.quantile(construct, 0.5),
      "queries.eager_jobs" -> eager.toDouble,
      "queries.artifact_build_s" -> queries.map(_.detail("artifact_s").asInstanceOf[Double]).sum,
      "queries.artifacts_built" -> queries.map(_.detail("artifacts_built").asInstanceOf[Int]).sum.toDouble,
      "catalyst.analysis_ms" -> planPhases.map(_.analysis).sum,
      "catalyst.optimization_ms" -> planPhases.map(_.optimization).sum,
      "catalyst.planning_ms" -> planPhases.map(_.planning).sum)
  }

  /** Every recorded span, in ms since the first operation started. Spans
    * of one operation share its id: the operation, its two calls, and the
    * Spark stages (queries) or live-query triggers (batches) that started
    * inside it. */
  def spans(r: Run, t: Tracer): Seq[Map[String, Any]] = {
    val t0 = r.ops.headOption.map(_.start).getOrElse(0.0)
    def span(name: String, id: String, s: Double, e: Double) =
      Map("name" -> name, "id" -> id, "start_ms" -> (s - t0), "end_ms" -> (e - t0))
    val (stages, triggers) = t.synchronized((t.stages.toSeq, t.triggers.toSeq))
    r.ops.toSeq.zipWithIndex.flatMap { case (o, i) =>
      val id = s"op$i"
      val (first, second) =
        if (o.name.startsWith("batch")) ("append", "fresh")
        else if (o.name == "replay") ("replay", "fold")
        else ("construct", "sink")
      val inner =
        if (o.name.startsWith("batch"))
          triggers.filter(x => x.start >= o.start && x.start <= o.end).map(x =>
            span(s"trigger:${x.query}", id, x.start, x.start + x.ms.getOrElse("triggerExecution", 0L)))
        else stages.filter(x => x._2 >= o.start && x._2 <= o.end).map(x =>
          span(s"stage:${x._1}", id, x._2, x._3))
      Seq(span(o.name, id, o.start, o.end), span(first, id, o.start, o.mid),
        span(second, id, o.mid, o.end)) ++ inner
    }
  }
}
