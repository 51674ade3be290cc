package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.eventstore.{Ingest, Projections, Replay, SqlFold, SumFold}
import graft.queries.QueryModule
import graft.streaming.{HotCold, ProjectionSink, StreamingFunnel, StreamingRetention, StreamingSessionCount}

/** Benchmark harness: one fresh JVM runs one workload against graft's
  * public entry points and writes what it measured to a JSON file.
  *
  * {{{
  * Harness --mode <export|setup|warm_mix|live_projection>
  *         --data <dir of input parquet tables> --work <scratch dir>
  *         --plan <plan file> --out <result json> --cpus <n> --trace <0|1>
  * }}}
  *
  * The plan file holds every seed-derived input (query order, batch
  * boundaries, invalid rows); the harness itself draws nothing at random.
  * With `--trace 0` no listener is registered. Mode `export` writes the
  * declared query names and their oracle SQL instead of running a
  * workload; mode `setup` only sets the session up and reports `setup_s`. */
object Harness {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Op(name: String, phase: String, start: Double, mid: Double, end: Double,
      ok: Boolean, error: String, detail: Map[String, Any])

  final class Run(val spark: SparkSession, val data: String, val work: String,
      val plan: Seq[Array[String]]) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val harnessSpans = mutable.ArrayBuffer.empty[(Double, Double)]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val start: Double = Clock.now()
    val jvmStart: JvmCounters = JvmCounters.read()
    var jvmEnd: JvmCounters = jvmStart
    var lastRow: Double = start
    var cpuAtLastRow: Long = 0L

    /** An operation's last row arrived at `t`. */
    def rowDone(t: Double): Unit = {
      lastRow = t
      cpuAtLastRow = processCpuNs()
    }

    def check(name: String, ok: Boolean, detail: => String): Unit =
      checks += ((name, ok, if (ok) "" else detail))

    /** Time harness-only work (result checks, cache hygiene). */
    def harness[T](body: => T): T = {
      val s = Clock.now()
      try body finally harnessSpans += ((s, Clock.now()))
    }
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = opt("mode")
    val work = opt("work")
    val cpus = opt("cpus")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // graft.Bench's session settings; only the scratch locations differ
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val ready = Clock.now()
    val readyCpuNs = processCpuNs()

    val tracer = if (opt.getOrElse("trace", "0") == "1") Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val plan = Files.readAllLines(Paths.get(opt("plan")), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t"))
    val run = new Run(spark, opt("data"), work, plan)
    mode match {
      case "export" =>
        Files.write(Paths.get(opt("out")), mapper.writeValueAsBytes(Map(
          "queries" -> SparkEntry.queries.keys.toSeq.sorted, "oracle" -> SparkEntry.oracleSql)))
        spark.stop()
        return
      case "setup" =>
        Files.write(Paths.get(opt("out")), mapper.writeValueAsBytes(Map("setup_s" -> (ready - jvmStart) / 1e3)))
        spark.stop()
        return
      case "warm_mix" => QueryWorkload.run(run)
      case "live_projection" => LiveWorkload.run(run)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    tracer.foreach(_.drain())
    // the heap the session still holds once the workload is over, after
    // the per-operation cache clean-up has finished
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    (1 to 2).foreach(_ => System.gc())
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val (j0, j1) = (run.jvmStart, run.jvmEnd)
    run.layers ++= Seq(
      "jvm.jit_ms" -> (j1.jitMs - j0.jitMs).toDouble,
      "jvm.codegen_classes" -> (j1.codegenClasses - j0.codegenClasses).toDouble,
      "jvm.driver_gc_ms" -> (j1.gcMs - j0.gcMs).toDouble,
      "jvm.peak_rss_mb" -> peakRssMb(),
      "jvm.retained_heap_mb" -> retainedMb)
    tracer.foreach { t =>
      run.layers ++= t.execMetrics(run.start, run.lastRow, cpus.toInt)
      run.layers ++= t.streamingMetrics(run.start, run.lastRow)
      run.layers ++= SelfTime.of(run, t, jvmStart, ready)
    }

    val result = Map(
      "mode" -> mode,
      "setup_s" -> (ready - jvmStart) / 1e3,
      "e2e_wall_s" -> (run.lastRow - jvmStart) / 1e3,
      "cpu_s" -> (run.cpuAtLastRow - readyCpuNs) / 1e9,
      "workload_s" -> (run.lastRow - run.start) / 1e3,
      "ops" -> run.ops.map(o => Map("name" -> o.name, "phase" -> o.phase,
        "ms" -> (o.end - o.start), "ok" -> o.ok, "error" -> o.error) ++ o.detail),
      "checks" -> run.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "layers" -> run.layers,
      "spans" -> tracer.map(SelfTime.spans(run, _)).getOrElse(Nil))
    Files.write(Paths.get(opt("out")), mapper.writeValueAsBytes(result))
    spark.stop()
  }

  /** CPU time this process has used, on every thread, since it started. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** VmHWM: the resident-set high-water mark of this process. */
  private def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0.0
    else Files.readAllLines(f.toPath).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** Rows as JSON values a DuckDB result can be compared with: times as
    * epoch microseconds, dates as ISO text, NaN and infinities as the
    * bare tokens Python's json module reads. */
  def json(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case f: Float => json(f.toDouble)
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
      else d.toString
    case d: java.math.BigDecimal => d.toString
    case d: scala.math.BigDecimal => d.bigDecimal.toString
    case s: String => mapper.writeValueAsString(s)
    case t: java.sql.Timestamp => s"""{"$$ts":${t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000L}}"""
    case t: java.time.Instant => s"""{"$$ts":${t.getEpochSecond * 1000000L + t.getNano / 1000}}"""
    case t: java.time.LocalDateTime => json(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => s"""{"$$date":"${d.toLocalDate}"}"""
    case d: java.time.LocalDate => s"""{"$$date":"$d"}"""
    case b: Array[Byte] => s"""{"$$bin":"${b.map("%02x".format(_)).mkString}"}"""
    case r: Row if r.schema == null => json(r.toSeq)
    case r: Row =>
      r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
        mapper.writeValueAsString(n) + ":" + json(r.get(i)) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => "[" + json(k) + "," + json(x) + "]" }
        .mkString("""{"$map":[""", ",", "]}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => mapper.writeValueAsString(other.toString)
  }

  def writeRows(dir: String, name: String, columns: Seq[String], rows: Array[Row]): Unit = {
    new File(dir).mkdirs()
    val sb = new java.lang.StringBuilder
    sb.append("{\"columns\":").append(mapper.writeValueAsString(columns)).append(",\"rows\":[")
    rows.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) sb.append(",\n")
      sb.append((0 until r.length).map(j => json(r.get(j))).mkString("[", ",", "]"))
    }
    sb.append("]}")
    Files.write(Paths.get(dir, s"$name.json"), sb.toString.getBytes(UTF_8))
  }
}

/** warm_mix: every plan line `<phase>\t<query>` is one query, run as
  * `SparkEntry.queries(name)(spark, data)` and sunk with `collect()`.
  * Phase `warmup` is the session's first, cold pass; only `timed` queries
  * count as operations in the latency figures. */
object QueryWorkload {
  import Harness._

  def run(r: Run): Unit = {
    val spark = r.spark
    val fns = SparkEntry.queries
    val fingerprints = mutable.Map.empty[String, Int]
    r.plan.zipWithIndex.foreach {
      case (Array(phase, name), i) =>
        val builds0 = QueryModule.buildTimes.asScala.toMap
        val id = s"op$i"
        spark.sparkContext.setJobGroup(s"$id:construct", name, interruptOnCancel = false)
        val cpu0 = processCpuNs()
        val start = Clock.now()
        var mid = start
        val attempt =
          try {
            val df = fns(name)(spark, r.data)
            mid = Clock.now()
            spark.sparkContext.setJobGroup(s"$id:sink", name, interruptOnCancel = false)
            Right((df.schema.fieldNames.toSeq, df.collect()))
          } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
        val end = Clock.now()
        r.rowDone(end)
        spark.sparkContext.clearJobGroup()
        val builds1 = QueryModule.buildTimes.asScala.toMap
        val built = builds1.collect { case (k, v) if builds0.get(k).forall(_ < v) =>
          v.doubleValue - builds0.get(k).map(_.doubleValue).getOrElse(0.0) }
        val detail = Map[String, Any]("cpu_ms" -> (r.cpuAtLastRow - cpu0) / 1e6,
          "construct_ms" -> (mid - start),
          "artifact_s" -> built.sum, "artifacts_built" -> built.size)
        val (ok, error) = r.harness {
          val res = attempt match {
            case Left(err) => (false, err)
            case Right((cols, rows)) =>
              val fp = scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString))
              fingerprints.get(name) match {
                case None =>
                  fingerprints(name) = fp
                  writeRows(s"${r.work}/rows", name, cols, rows)
                  (true, "")
                case Some(first) if first == fp => (true, "")
                case Some(_) => (false, "rows differ from this query's first run in the same JVM")
              }
          }
          // graft.Bench's inter-query hygiene, outside the timed call
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
          res
        }
        r.ops += Op(name, phase, start, mid, end, ok, error, detail)
    }
    r.jvmEnd = JvmCounters.read()
  }
}

/** live_projection: photon's own traffic. The `events` table, sorted by
  * time, becomes event-log rows appended batch by batch through
  * `Ingest.ingest` with a hot topic, while five live queries tail the
  * topic through `HotCold.hotCold`. Plan lines:
  * `batch\t<first row>\t<row count>` and
  * `invalid\t<batch>\t<row>\t<field nulled>`. */
object LiveWorkload {
  import Harness._

  private val provenance = StructType(Seq(StructField("service_id", StringType),
    StructField("local_id", StringType), StructField("relationship", StringType)))
  private val raw = StructType(Seq(
    StructField("stream_name", StringType), StructField("service_id", StringType),
    StructField("local_id", StringType), StructField("schema_version", StringType),
    StructField("payload", StringType), StructField("provenance", provenance)))

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val log = s"${r.work}/log"
    val topic = s"${r.work}/topic"
    Seq(log, topic).foreach(new File(_).mkdirs())

    // events as event-log rows: stream = event type, payload = JSON of
    // the remaining columns, local_id = event_id
    val ev = spark.read.parquet(s"${r.data}/events.parquet")
    val ts = col("ts").cast("timestamp")
    val events = ev.select(col("event_type"), col("event_id"),
        to_json(struct(col("user_id"), unix_micros(ts).as("ts"), col("value"), col("props")))
          .as("payload"), unix_micros(ts).as("us"))
      .orderBy("us", "event_id").collect()
      .map(e => Row(e.getString(0), "perfbench", e.getLong(1).toString, "1", e.getString(2), null))

    val batches = r.plan.collect { case Array("batch", from, n) => (from.toInt, n.toInt) }
    val invalid = r.plan.collect { case Array("invalid", b, row, field) =>
      (b.toInt, row.toInt, raw.fieldIndex(field)) }

    val live = HotCold.hotCold(spark, topic)
    val sumFold = SumFold("value_sum", "value")
    val sqlFold = SqlFold("latest_payload", "max_by(payload, order_id)")
    val parsed = live.select(
      get_json_object(col("payload"), "$.user_id").cast("long").as("user_id"),
      col("stream_name").as("event_type"),
      (get_json_object(col("payload"), "$.ts").cast("long") / 1000).cast("long").as("ms"),
      col("local_id").cast("long").as("event_id"))
    def memory[T](ds: org.apache.spark.sql.Dataset[T], name: String): StreamingQuery =
      ds.writeStream.outputMode(OutputMode.Append()).format("memory").queryName(name)
        .option("checkpointLocation", s"${r.work}/ckpt_$name").start()
    val (sessionHits, outOfOrder) = StreamingSessionCount.emissions(
      parsed.select(col("user_id"), col("ms").as("ts_ms"), col("event_id")))
    val queries = Seq(
      ProjectionSink.start(HotCold.typed(live), sumFold, s"${r.work}/proj_fold", s"${r.work}/ckpt_fold"),
      ProjectionSink.startSql(live, sqlFold, s"${r.work}/proj_sql", s"${r.work}/ckpt_sql"),
      memory(StreamingFunnel.advances(parsed), "twin_funnel"),
      memory(StreamingRetention.activations(parsed), "twin_retention"),
      memory(sessionHits, "twin_sessions"))

    var rejected = 0L
    var validEvents = 0L
    var inputBytes = 0L
    val appendMs = mutable.ArrayBuffer.empty[Double]
    batches.zipWithIndex.foreach { case ((from, n), b) =>
      val rows = events.slice(from, from + n) ++ invalid.filter(_._1 == b).map { case (_, row, f) =>
        Row.fromSeq(events(row).toSeq.updated(f, null)) }
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), raw)
      spark.sparkContext.setJobGroup(s"batch$b:append", "append", interruptOnCancel = false)
      val cpu0 = processCpuNs()
      val start = Clock.now()
      var mid = start
      val attempt =
        try {
          val bad = Ingest.ingest(df, log, 1700000000000L + b * 1000L, hotDir = Some(topic))
          mid = Clock.now()
          queries.foreach(_.processAllAvailable())
          Right(bad)
        } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val end = Clock.now()
      r.rowDone(end)
      spark.sparkContext.clearJobGroup()
      appendMs += mid - start
      val (ok, error) = r.harness(attempt match {
        case Left(err) => (false, err)
        case Right(bad) =>
          rejected += bad.count()
          validEvents += n
          inputBytes += events.slice(from, from + n).iterator
            .map(_.toSeq.collect { case s: String => s.getBytes(UTF_8).length.toLong }.sum).sum
          (true, "")
      })
      r.ops += Op(s"batch$b", "timed", start, mid, end, ok, error,
        Map("events" -> n, "append_ms" -> (mid - start), "cpu_ms" -> (r.cpuAtLastRow - cpu0) / 1e6))
    }

    // the final cold replay plus the batch fold over the finished log
    val replayStart = Clock.now()
    val replayed = Replay.cold(Replay.open(spark, log)).collect()
    val foldStart = Clock.now()
    val folded = Projections.runOrdered(Replay.typed(spark, log), sumFold).collect()
    val replayEnd = Clock.now()
    r.rowDone(replayEnd)
    r.jvmEnd = JvmCounters.read()
    r.ops += Op("replay", "timed", replayStart, foldStart, replayEnd, true, "",
      Map("replay_ms" -> (foldStart - replayStart), "fold_ms" -> (replayEnd - foldStart)))

    r.harness {
      val liveFold = ProjectionSink.latest(spark, s"${r.work}/proj_fold").collect()
      val liveSql = ProjectionSink.latest(spark, s"${r.work}/proj_sql").collect()
      queries.foreach(_.stop())
      val expectedValid = batches.map(_._2).sum
      r.check("replay.rows", replayed.length == expectedValid,
        s"replayed ${replayed.length} of $expectedValid valid events")
      r.check("eventstore.rejected", rejected == invalid.size,
        s"rejected $rejected, injected ${invalid.size}")
      val want = folded.map(p => p.stream_name -> (p.value, p.processed)).toMap
      val got = liveFold.map(x => x.getAs[String]("stream_name") ->
        (x.getAs[Double]("value"), x.getAs[Long]("processed"))).toMap
      r.check("projection.value_sum", want == got, s"live $got vs runOrdered $want")
      val wantSql = Projections.runSql(Replay.typed(spark, log), sqlFold).collect()
        .map(x => x.getAs[String]("stream_name") -> x.get(x.fieldIndex("value"))).toMap
      val gotSql = liveSql.map(x => x.getAs[String]("stream_name") -> x.get(x.fieldIndex("value"))).toMap
      r.check("projection.latest_payload", wantSql == gotSql, "live SQL fold differs from runSql")

      // each twin's emissions, folded, against its batch query's rows
      val funnel = spark.table("twin_funnel").groupBy("stage").count().collect()
        .map(x => x.getInt(0) -> x.getLong(1)).toMap
      val xf = SparkEntry.queries("x_funnel")(spark, r.data).collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      r.check("twin.x_funnel",
        Seq("stage1_view", "stage2_click", "stage3_purchase").zipWithIndex
          .forall { case (k, i) => xf.get(k).contains(funnel.getOrElse(i + 1, 0L)) },
        s"streamed $funnel vs batch $xf")
      val retention = spark.table("twin_retention").groupBy("c_day", "off_w").count().collect()
        .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
      val xr = SparkEntry.queries("x_retention")(spark, r.data).collect()
        .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(3)).toMap
      r.check("twin.x_retention", retention == xr, s"${retention.size} streamed vs ${xr.size} batch cells")
      val sessions = StreamingSessionCount.sessionsOf(spark.table("twin_sessions"))
        .collect().map(_.toSeq).toSeq
      val xs = SparkEntry.queries("x_session_gap_sweep")(spark, r.data).collect().map(_.toSeq).toSeq
      r.check("twin.x_session_gap_sweep", sessions == xs && outOfOrder.value == 0L,
        s"streamed $sessions vs batch $xs, out-of-order ${outOfOrder.value}")

      val files = Seq(log, topic).flatMap(d => listFiles(new File(d)))
      val bytes = files.map(_.length).sum.toDouble
      val foldUs = liveFold.map(_.getAs[Double]("avg_step_us"))
      val sortedAppend = appendMs.sorted.toSeq
      r.layers ++= Seq(
        "eventstore.append_ms_p50" -> Stats.quantile(sortedAppend, 0.5),
        "eventstore.append_ms_max" -> sortedAppend.lastOption.getOrElse(0.0),
        "eventstore.ingest_events_per_s" -> validEvents / (appendMs.sum / 1e3),
        "eventstore.rejected" -> rejected.toDouble,
        "eventstore.files_written" -> files.size.toDouble,
        "eventstore.bytes_per_event" -> bytes / validEvents,
        "eventstore.write_amplification" -> bytes / inputBytes,
        "eventstore.replay_ms" -> (foldStart - replayStart),
        "eventstore.fold_ms" -> (replayEnd - foldStart),
        "streaming.fold_us_per_event" -> (if (foldUs.isEmpty) 0.0 else foldUs.sum / foldUs.length))
    }
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten
      .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
      .flatMap(listFiles)
    else Seq(f)
}
