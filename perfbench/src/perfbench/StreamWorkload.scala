package perfbench

import graft.rules.{Catalog, Rule, RuleEngine, StreamDef}
import graft.sinks.{FileSink, Sink}
import graft.sources.Source
import graft.streaming.{CountWindowStream, StateEvt}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Deterministic event generator (from the seed): keys follow a Zipf law
  * over `keys` keys, values are cents in [0, 100), event time is a
  * logical clock of one millisecond per event, and after the warm-up a
  * fixed share of events is late by `lateMs` of event time. The late
  * lag exceeds any batch's event-time span plus the watermark delay, so
  * a stateful rule drops exactly the late events, whatever the batch
  * boundaries.
  */
final class EventGen(seed: Long, keys: Int = 200, zipfS: Double = 1.2,
                     val lateShare: Double = 0.02, val lateMs: Long = 60000L) {
  val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z
  private val rnd = new java.util.SplittableRandom(seed)
  private val cdf = {
    val w = (1 to keys).map(k => 1.0 / math.pow(k, zipfS))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  private var next = 0L
  var lateCount = 0L

  private def key(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, keys - 1)
  }

  /** The next event as a JSON line; `allowLate` is false in the warm-up. */
  def line(createdMs: Long, allowLate: Boolean): String = {
    val i = next; next += 1
    val k = key()
    val v = rnd.nextInt(10000) / 100.0
    val late = allowLate && rnd.nextDouble() < lateShare
    if (late) lateCount += 1
    val ts = java.time.Instant.ofEpochMilli(BaseMs + i - (if (late) lateMs else 0L))
    s"""{"event_id":$i,"key":$k,"value":$v,"ts":"$ts","created_ms":$createdMs,"late":$late}"""
  }

  def generated: Long = next

  def flushLine(id: Long, tsOffsetMs: Long): String = {
    val ts = java.time.Instant.ofEpochMilli(BaseMs + tsOffsetMs)
    s"""{"event_id":$id,"key":-1,"value":-1.0,"ts":"$ts","created_ms":0,"late":false}"""
  }

  def dimLines: Seq[String] =
    (0 until keys).map(k => s"""{"key":$k,"region":"r${k % 5}","weight":${(k % 7) + 1}.5}""")
}

/** Wraps a rule's sink: times every write and, for the latency rules,
  * observes the creation stamps of the rows each write emits, in the
  * same job as the write. A streaming write runs on its query's
  * micro-batch thread, which carries the batch id as a local property.
  */
final class TimedSink(rule: String, inner: Sink, stamps: Boolean, rec: SinkRecorder) extends Sink {
  def options: Map[String, String] = inner.options

  def writeBatch(df: DataFrame): Unit = {
    val obs = if (stamps) Some(Observation()) else None
    val d = obs.fold(df)(o => df.observe(o, collect_list(col("created_ms")).as("c")))
    val t0 = System.nanoTime()
    inner.writeBatch(d)
    val t1 = System.nanoTime()
    val doneMs = System.currentTimeMillis()
    rec.writes.add((rule, (t1 - t0) / 1e6))
    obs.foreach { o =>
      val cs = o.get("c").asInstanceOf[scala.collection.Seq[Any]].map(_.toString.toLong)
      val batchId = Option(df.sparkSession.sparkContext.getLocalProperty("streaming.sql.batchId"))
        .fold(-1L)(_.toLong)
      rec.stamps.add((rule, batchId, doneMs, cs.toArray))
    }
  }
}

final class SinkRecorder {
  val writes = new ConcurrentLinkedQueue[(String, Double)]()
  /** (rule, batch id, write-return epoch ms, creation stamps). */
  val stamps = new ConcurrentLinkedQueue[(String, Long, Long, Array[Long])]()
}

/** A Source over a fixed DataFrame (the batch side of the equality check). */
final case class FrameSource(df: DataFrame) extends Source {
  def batch(spark: SparkSession): DataFrame = df
  def stream(spark: SparkSession): DataFrame =
    throw new UnsupportedOperationException("batch-only source")
}

/** `stream_rules`: streaming rules run concurrently in one RuleEngine
  * over a file-drop stream read by graft's FileSource.
  */
object StreamWorkload {
  val LatencyRules = Set("r_filter", "r_join")
  val RatePerS = 200
  /** Events per backlog round; the rules drain `BacklogRounds` rounds. */
  val Backlog = 6000
  val BacklogRounds = 3
  /** The open loop runs for five sixths of `--seconds`. */
  private def liveMsFor(conf: Conf): Long = conf.seconds * 5000L / 6

  /** Rows of the open loop's first seconds carry no latency sample. */
  val LeadInMs = 1000L
  val Warm = 2000
  val CountSize = 50
  /** Processing-time trigger of every rule. It is longer than a light
    * micro-batch takes, so the rules start their batches together on the
    * trigger's clock, and an idle rule does not re-list the source
    * directory every few milliseconds.
    */
  val TriggerMs = 1000L
  /** Timed control-job runs per break, and where in the trigger period a
    * break starts.
    */
  val ControlRuns = 2
  val QuietFromMs = 150L
  /** The control job's median time in those breaks on a quiet host (a
    * 4-vCPU VM with under 1% steal); see HostSpeed. CPU time is not
    * scaled: in the breaks, the process's CPU time also counts the idle
    * rules' background threads.
    */
  val RefControlS = 0.196
  /** Where in the trigger period a backlog round is published and the
    * open loop starts (it publishes a file every 200 ms from there). A
    * file published on a tick races the rules' source listing, and the
    * race would decide which batch of which rule reads it.
    */
  val PublishOffsetMs = 100L

  /** Sleeps until PublishOffsetMs after the next trigger tick; returns
    * that time (epoch ms).
    */
  private def afterTick(): Long = {
    val at = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + PublishOffsetMs
    Thread.sleep(math.max(0L, at - System.currentTimeMillis()))
    at
  }

  val streamLayers: Seq[String] = Seq(
    "sources.latest_offset_ms", "sources.get_batch_ms", "sources.input_rows_per_batch",
    "sources.lag_ms", "rules.start_s", "rules.query_planning_ms", "sinks.add_batch_ms",
    "sinks.write_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.trigger_ms", "streaming.busy_frac", "streaming.state_rows",
    "streaming.state_memory_bytes", "streaming.state_commit_ms", "streaming.late_rows_dropped")
  /** The streaming layers, as read on a workload without streams. */
  val zeroStreamLayers: Map[String, Double] = streamLayers.map(_ -> 0.0).toMap

  /** The rules, in eKuiper's dialect where it has one. */
  val rules: Seq[(String, String, Map[String, String])] = Seq(
    ("r_filter", "SELECT event_id, key, value, created_ms FROM ev WHERE value > 40",
      Map("dataTemplate" -> """{"id":{{event_id}},"k":{{key}},"v":{{value}},"c":{{created_ms}}}""")),
    ("r_tumble", "SELECT key, count(*) AS n, round(sum(value), 2) AS total, " +
      "window_start() AS ws, window_end() AS we FROM ev GROUP BY key, TUMBLINGWINDOW(ss, 1)", Map.empty),
    ("r_join", "SELECT ev.event_id, ev.key, dim.region, ev.value, ev.created_ms " +
      "FROM ev INNER JOIN dim ON ev.key = dim.key", Map.empty),
    ("r_session", "SELECT key, count(*) AS n, round(sum(value), 2) AS total, " +
      "min(ts) AS first_ts, max(ts) AS last_ts FROM ev GROUP BY key, SESSIONWINDOW(ss, 60, 2)", Map.empty))
  val allRules: Seq[String] = rules.map(_._1) :+ "r_count"

  private def ddl(in: Path, dim: Path): Seq[String] = Seq(
    s"""CREATE STREAM ev (event_id BIGINT, key BIGINT, value DOUBLE, ts TIMESTAMP,
       |created_ms BIGINT, late BOOLEAN) WITH (TYPE="file", FORMAT="json",
       |DATASOURCE="$in/*", TIMESTAMP="ts", WATERMARK="2 seconds")""".stripMargin,
    s"""CREATE TABLE dim (key BIGINT, region STRING, weight DOUBLE) WITH (TYPE="file",
       |FORMAT="json", DATASOURCE="$dim")""".stripMargin)

  /** Atomically publish `lines` as `dir/name` (Spark skips dot files). */
  private def drop(dir: Path, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve("." + name + ".tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** One running instance: session, engine, rules, the generator. */
  private final class Instance(conf: Conf, root: Path) {
    val gen = new EventGen(conf.seed)
    val in: Path = root.resolve("in")
    val out: Path = root.resolve("out")
    val rec = new SinkRecorder
    var spark: SparkSession = _
    var engine: RuleEngine = _
    var queries: Seq[(String, StreamingQuery)] = Nil
    var startS = 0.0
    /** Time to build the count-window operator's DataFrame. */
    var constructS = 0.0
    var speed: HostSpeed = _
    /** Wall and CPU seconds of the control job's breaks, to leave out of
      * the region's figures.
      */
    var controlWallS = 0.0
    var controlCpuS = 0.0

    def start(): Unit = {
      // the rules' micro-batches start together on each trigger tick and
      // share the session's two task slots: with FIFO scheduling, a rule's
      // rows waited behind whichever rules' jobs were submitted first
      spark = Main.newSession(conf, schedulerMode = "FAIR")
      val dim = root.resolve("dim")
      drop(dim, "dim.json", gen.dimLines)
      (0 until 4).foreach { f =>
        drop(in.resolve("warm"), s"part-$f.json",
          (0 until Warm / 4).map(_ => gen.line(System.currentTimeMillis(), allowLate = false)))
      }
      val t0 = System.nanoTime()
      engine = new RuleEngine(spark, new Catalog)
      ddl(in, dim).foreach(engine.createStream)
      rules.foreach { case (id, sql, opts) =>
        val sink = new TimedSink(id, FileSink(out.resolve(id).toString, "json", opts),
          LatencyRules.contains(id), rec)
        engine.create(Rule(id, sql, Seq(sink), streaming = true, triggerMs = TriggerMs,
          checkpointDir = Some(root.resolve("ckpt").resolve(id).toString)))
        engine.start(id)
      }
      implicit val s: SparkSession = spark
      import s.implicits._
      val c0 = System.nanoTime()
      val evs = engine.catalog.get("ev").get.source.stream(spark)
        .select($"key", unix_micros($"ts").as("tsMicros"), $"value",
          lit(false).as("open"), lit(false).as("close")).as[StateEvt]
      val cwDf = CountWindowStream.streaming(evs, CountSize).toDF()
      constructS = (System.nanoTime() - c0) / 1e9
      new TimedSink("r_count", FileSink(out.resolve("r_count").toString, "json"), false, rec)
        .writeStream(cwDf, "r_count_0", TriggerMs,
          Some(root.resolve("ckpt").resolve("r_count").toString))
      startS = (System.nanoTime() - t0) / 1e9
      queries = spark.streams.active.toSeq.map(q => q.name.stripSuffix("_0") -> q).sortBy(_._1)
      awaitAll()
      speed = new HostSpeed(spark, RefControlS)
    }

    def awaitAll(): Unit = queries.foreach(_._2.processAllAvailable())

    /** A break for the control job, at a moment when no rule runs: just
      * after the rules' shared trigger tick (processing-time triggers
      * fire on whole multiples of TriggerMs), once every rule's trigger
      * has returned. The control runs end well before the next tick.
      */
    def control(): Unit = {
      val t0 = System.nanoTime()
      val c0 = Host.processCpuS()
      System.gc()
      def quiet = {
        val sinceTick = System.currentTimeMillis() % TriggerMs
        sinceTick >= QuietFromMs && sinceTick < QuietFromMs + 100 &&
          queries.forall(!_._2.status.isTriggerActive)
      }
      while (!quiet) Thread.sleep(5)
      (1 to ControlRuns).foreach(_ => speed.sample())
      controlWallS += (System.nanoTime() - t0) / 1e9
      controlCpuS += Host.processCpuS() - c0
    }

    def stop(): Unit = {
      queries.foreach { case (_, q) => try q.stop() catch { case _: Exception => () } }
      if (engine != null) engine.close()
      spark.stop()
    }
  }

  /** Progress of every micro-batch of every query, while recording. */
  private final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
    @volatile var on = false
    val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private var taken = 0
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = if (on) all.add(e.progress)

    /** Progress reported since the last call, once the bus has drained. */
    def since(): Seq[StreamingQueryProgress] = {
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      val xs = all.asScala.toSeq
      val out = xs.drop(taken)
      taken = xs.size
      out
    }
  }

  def run(conf: Conf, jvmS: Double): Outcome = {
    val base = Paths.get(conf.workDir).resolve("stream")
    // set-up: session, catalog, rule start and the warm-up batch
    val s0 = System.nanoTime()
    val inst = new Instance(conf, base.resolve("run"))
    inst.start()
    val setupS = jvmS + (System.nanoTime() - s0) / 1e9
    inst.speed.warm()
    val spark = inst.spark
    val gen = inst.gen

    // backlog rounds: prepared in staging directories, each published in
    // one move so a rule reads it as one micro-batch
    val stages = (1 to BacklogRounds).map { r =>
      val stage = base.resolve("stage").resolve(s"backlog$r")
      (0 until 8).foreach { f =>
        drop(stage, s"part-$f.json",
          (0 until Backlog / 8).map(_ => gen.line(System.currentTimeMillis(), allowLate = true)))
      }
      stage
    }

    val tracer = if (conf.trace) Some(new Tracer(spark)) else None
    val progress = new ProgressLog(spark)
    spark.streams.addListener(progress)
    val heap = new HeapAfterGc
    inst.rec.stamps.clear(); inst.rec.writes.clear()

    // ---- timed region ----
    System.gc()
    heap.start()
    progress.on = true
    val win = new HostWindow
    val t0 = System.nanoTime()
    def phase[T](key: String)(body: => T): T = tracer.fold(body)(_.phase(s"stream/$key")(body))
    // phase A: drain the backlog rounds one after the other; a rule's
    // drain time is the processing time of the micro-batches it ran.
    // The control job runs after each round and after phase B.
    progress.since()
    val drainRounds = stages.zipWithIndex.map { case (stage, i) =>
      afterTick()
      val round = phase(s"backlog${i + 1}") {
        val cpu0 = Host.processCpuS()
        Files.move(stage, inst.in.resolve(stage.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
        inst.awaitAll()
        val ps = progress.since()
        val cpu = Host.processCpuS() - cpu0
        // the heap is read after every GC: collect the round's garbage
        // here, so the readings later in the region do not depend on
        // when the collector last ran a full cycle
        System.gc()
        (allRules.map(r => r -> ps.filter(_.name == s"${r}_0")
          .map(dur(_, "triggerExecution")).sum / 1000.0).toMap, cpu)
      }
      inst.control()
      round
    }
    // phase B: open-loop generator at a fixed rate
    val liveMs = afterTick()
    val genLagMs = phase("live") {
      val lag = openLoop(inst, liveMs, liveMsFor(conf))
      // one far-future event, published after the last live file, moves
      // the watermark past every window; the no-data batch that follows
      // emits them before the rules are idle. Its rows are not measured.
      drop(inst.in.resolve("flush"), "part-0.json", Seq(gen.flushLine(-1, 1000000000L)))
      inst.awaitAll()
      lag
    }
    inst.control()
    val liveFrom = liveMs + LeadInMs
    val wallRegionS = (System.nanoTime() - t0) / 1e9 - inst.controlWallS
    tracer.foreach(_.drain())
    progress.on = false
    val cpuS = win.cpuS - inst.controlCpuS
    val gcS = win.gcS
    val steal = win.stealFrac
    val load1m = Host.loadAvg1m()
    val (heapMajor, heapAny) = heap.stop()
    heap.close()
    val execCounts = tracer.map(_.collect()._1.filter(_._1.startsWith("stream/")))
      .getOrElse(Map.empty[String, PhaseCounts])
    tracer.foreach(_.close())
    // ---- end of timed region ----

    // the median backlog round; a round's drain is its slowest rule's
    val drainPerRule = allRules.map(r => r -> Stats.median(drainRounds.map(_._1(r)))).toMap
    val drainS = Stats.median(drainRounds.map(_._1.values.max))
    val stamps = inst.rec.stamps.asScala.toSeq
    val progs = progress.all.asScala.toSeq
    // when each (query, batch) started: the progress timestamp
    val started = progs.map(p => (p.name, p.batchId) ->
      java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
    // latency of every latency-rule row after the lead-in, in two parts:
    // the wait for its micro-batch (mostly the trigger clock's), and the
    // time from the batch's start to the return of its sink write
    val latencyParts = stamps.collect { case (r, id, done, cs) if LatencyRules.contains(r) =>
      val start = started.getOrElse((s"${r}_0", id), done)
      cs.filter(_ >= liveFrom).map(c => ((start - c).toDouble, (done - start).toDouble))
    }.flatten
    /** Latencies with the batches' own time at host speed factor `f`. */
    def latencies(f: Double): Seq[Double] = latencyParts.map { case (w, b) => w + b / f }
    val perLayer = if (conf.trace)
      streamLayerMetrics(progs, started, stamps, liveFrom, inst, wallRegionS) ++ Map(
        "queries.construct_s" -> inst.constructS, "queries.construct_jobs" -> 0.0,
        "catalyst.plan_s" -> progs.map(p => dur(p, "queryPlanning")).sum / 1000.0) ++
        execLayers(execCounts.values.foldLeft(PhaseCounts())(_ + _), wallRegionS, conf.cores) ++
        Map("jvm.gc_s" -> gcS, "host.steal_frac" -> steal)
    else Map.empty[String, Double]

    // ---- output checks (untimed) ----
    val c0 = System.nanoTime()
    val (checks, failedEvents) = check(inst)
    val checkS = (System.nanoTime() - c0) / 1e9
    val failedRules = checks.count { case (_, m) => m.get("ok").contains(false) }
    val speed = inst.speed
    inst.stop()

    // wall-clock timings at the reference host speed (see HostSpeed); the
    // raw figures are in the record
    def endToEndAt(f: Double): Map[String, Double] = Map(
      "setup_s" -> setupS / f,
      "wall_s" -> drainS / f,
      "geomean_query_s" -> Stats.geomean(drainPerRule.values.toSeq) / f,
      "cpu_s" -> cpuS,
      "peak_heap_mb" -> heapAny,
      "stream_rows_per_s" -> Backlog / (drainS / f),
      "latency_p50_ms" -> Stats.quantile(latencies(f), 0.5),
      "latency_p99_ms" -> Stats.quantile(latencies(f), 0.99))
    val endToEnd = endToEndAt(speed.factor)
    val events = gen.generated
    Outcome(endToEnd, if (conf.trace) perLayer + ("host.control_s" -> speed.wallS) else perLayer,
      attempted = events + checks.size, failed = failedEvents + failedRules,
      queries = allRules.map(r => r -> Map(
        "drain_s" -> drainPerRule.getOrElse(r, -1.0),
        "drain_rounds_s" -> drainRounds.map(_._1.getOrElse(r, -1.0)),
        "writes" -> inst.rec.writes.asScala.count(_._1 == r),
        "write_ms_mean" -> Stats.mean(inst.rec.writes.asScala.filter(_._1 == r).map(_._2).toSeq))).toMap,
      checks = checks,
      extra = Map("events" -> events, "late_events" -> gen.lateCount,
        "end_to_end_raw" -> endToEndAt(1.0), "host_speed" -> speed.record,
        "latency_samples" -> latencyParts.size, "rate_per_s" -> RatePerS,
        "backlog_events" -> Backlog, "backlog_rounds" -> BacklogRounds,
        "generator_lag_ms_p99" -> Stats.quantile(genLagMs, 0.99),
        "jvm_start_s" -> jvmS,
        "rules_start_s" -> inst.startS, "region_wall_s" -> wallRegionS,
        "region_cpu_s" -> cpuS, "round_cpu_s" -> drainRounds.map(_._2),
        "check_s" -> checkS,
        "host" -> Map("steal_frac" -> steal, "load1m_start" -> win.load1mStart,
          "load1m_end" -> load1m, "nproc" -> Runtime.getRuntime.availableProcessors),
        "peak_heap_major_gc_mb" -> heapMajor))
  }

  /** Open loop: every tick, publish the events that fell due since the
    * last tick, each stamped with its due time. Returns how late each
    * tick ran behind its schedule (ms).
    */
  private def openLoop(inst: Instance, startMs: Long, durMs: Long): Seq[Double] = {
    val gen = inst.gen
    val dir = inst.in.resolve("live")
    val tickMs = 200L
    val lag = mutable.ArrayBuffer.empty[Double]
    var sent = 0L
    var tick = 0
    val total = durMs * RatePerS / 1000
    while (sent < total) {
      val dueAt = startMs + (tick + 1) * tickMs
      val sleep = dueAt - System.currentTimeMillis()
      if (sleep > 0) Thread.sleep(sleep)
      val now = System.currentTimeMillis()
      lag += (now - dueAt).toDouble
      val upTo = math.min(total, (now - startMs) * RatePerS / 1000)
      if (upTo > sent) {
        val lines = (sent until upTo).map(j => gen.line(startMs + j * 1000 / RatePerS, allowLate = true))
        drop(dir, f"part-$tick%05d.json", lines)
        sent = upTo
      }
      tick += 1
    }
    lag.toSeq
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def execLayers(c: PhaseCounts, wallS: Double, cores: Int): Map[String, Double] = Map(
    "exec.jobs" -> c.jobs.toDouble, "exec.stages" -> c.stages.toDouble,
    "exec.tasks" -> c.tasks.toDouble, "exec.exec_s" -> wallS,
    "exec.task_busy_s" -> c.taskBusyS,
    "exec.core_util" -> (if (wallS > 0) c.taskBusyS / (wallS * cores) else 0.0),
    "exec.shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
    "exec.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
    "exec.scans" -> 0.0, "exec.exchanges" -> 0.0, "exec.reused_exchanges" -> 0.0,
    "exec.spill_bytes" -> c.spillBytes.toDouble)

  private def streamLayerMetrics(progs: Seq[StreamingQueryProgress], started: Map[(String, Long), Long],
                                 stamps: Seq[(String, Long, Long, Array[Long])], liveFrom: Long,
                                 inst: Instance, wallS: Double): Map[String, Double] = {
    def mean(k: String) = Stats.mean(progs.map(dur(_, k)))
    val withRows = progs.filter(_.numInputRows > 0)
    // rows of the open loop after the lead-in, as for latency: backlog
    // events wait in staging before they are published
    val lags = stamps.flatMap { case (r, id, _, cs) =>
      started.get((s"${r}_0", id)).toSeq.flatMap(s => cs.filter(_ >= liveFrom).map(c => (s - c).toDouble))
    }
    val stateOps = progs.flatMap(_.stateOperators)
    val lastState = progs.groupBy(_.name).values.map(_.maxBy(_.batchId)).flatMap(_.stateOperators)
    Map(
      "sources.latest_offset_ms" -> mean("latestOffset"),
      "sources.get_batch_ms" -> mean("getBatch"),
      "sources.input_rows_per_batch" -> Stats.mean(withRows.map(_.numInputRows.toDouble)),
      "sources.lag_ms" -> Stats.median(lags),
      "rules.start_s" -> inst.startS,
      "rules.query_planning_ms" -> mean("queryPlanning"),
      "sinks.add_batch_ms" -> mean("addBatch"),
      "sinks.write_ms" -> Stats.mean(inst.rec.writes.asScala.map(_._2).toSeq),
      "streaming.wal_commit_ms" -> mean("walCommit"),
      "streaming.commit_offsets_ms" -> mean("commitOffsets"),
      "streaming.trigger_ms" -> mean("triggerExecution"),
      "streaming.busy_frac" ->
        progs.map(dur(_, "triggerExecution")).sum / 1000.0 / (wallS * inst.queries.size),
      "streaming.state_rows" -> lastState.map(_.numRowsTotal.toDouble).sum,
      "streaming.state_memory_bytes" -> lastState.map(_.memoryUsedBytes.toDouble).sum,
      "streaming.state_commit_ms" -> Stats.mean(stateOps.map(_.commitTimeMs.toDouble)),
      "streaming.late_rows_dropped" -> stateOps.map(_.numRowsDroppedByWatermark.toDouble).sum)
  }

  /** Each SQL rule's streamed output must equal the same SQL run as a
    * batch rule over the generated events (on-time events only for the
    * windowed rules, whose watermark drops the late ones). The count
    * window must emit floor(n / size) full windows per key. An event
    * fails when a stateless rule should have delivered it and did not.
    */
  private def check(inst: Instance): (Map[String, Map[String, Any]], Long) = {
    val spark = inst.spark
    val all = inst.engine.catalog.get("ev").get.source.batch(spark)
    val onTime = all.where(!col("late"))
    val checks = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    // rows as the JSON file sink wrote them, without the flush event's
    val flush = Seq("\"key\":-1,", "\"key\":-1}")
    def real(lines: Seq[String]) = lines.filterNot(l => flush.exists(l.contains))
    def counts(xs: Seq[String]): Map[String, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)
    def minus(a: Map[String, Int], b: Map[String, Int]): Map[String, Int] =
      a.map { case (k, n) => k -> (n - b.getOrElse(k, 0)) }.filter(_._2 > 0)
    var failedEvents = 0L
    rules.foreach { case (id, sql, opts) =>
      val windowed = !LatencyRules.contains(id)
      val cat = new Catalog
      cat.register(StreamDef("ev", FrameSource(if (windowed) onTime else all),
        timestampCol = Some("ts"), watermark = Some("2 seconds")))
      cat.register(inst.engine.catalog.get("dim").get)
      val sink = new CollectJsonSink(opts)
      val eng = new RuleEngine(spark, cat)
      try {
        eng.create(Rule(id, sql, Seq(sink)))
        eng.start(id)
      } finally eng.close()
      val got = counts(real(spark.read.text(inst.out.resolve(id).toString).collect().map(_.getString(0)).toSeq))
      val want = counts(real(sink.rows))
      val missing = minus(want, got)
      val extra = minus(got, want)
      if (!windowed) {
        // events a stateless rule should have delivered and did not
        val idRe = (if (id == "r_filter") "\\\\\"id\\\\\":(\\d+)" else "\"event_id\":(\\d+)").r
        failedEvents += missing.keys.flatMap(idRe.findFirstMatchIn(_).map(_.group(1))).toSet.size
      }
      checks(id) = Map("ok" -> (missing.isEmpty && extra.isEmpty), "rows" -> want.values.sum,
        "missing" -> missing.values.sum, "extra" -> extra.values.sum)
    }
    val cw = spark.read.schema("key BIGINT, windowSeq BIGINT, n BIGINT, sum DOUBLE")
      .json(inst.out.resolve("r_count").toString)
    val perKey = all.groupBy("key").count()
      .select(col("key"), (col("count") / CountSize).cast("long").as("windows"))
      .where(col("windows") > 0)
    val gotCw = cw.groupBy("key").agg(count(lit(1)).as("windows"),
      max("windowSeq").as("max_seq"), min("n").as("min_n"), max("n").as("max_n"))
    val mismatch = perKey.join(gotCw, Seq("key"), "full_outer")
      .where(!(perKey("windows") <=> gotCw("windows")) || gotCw("max_seq") =!= gotCw("windows") - 1 ||
        gotCw("min_n") =!= CountSize || gotCw("max_n") =!= CountSize).count()
    checks("r_count") = Map("ok" -> (mismatch == 0), "rows" -> cw.count(), "mismatched_keys" -> mismatch)
    (checks.toMap, failedEvents)
  }
}

/** The batch side of the equality check: the rows a rule's sink would
  * write, rendered as the JSON file sink renders them.
  */
final class CollectJsonSink(val options: Map[String, String]) extends Sink {
  @volatile var rows: Seq[String] = Nil
  def writeBatch(df: DataFrame): Unit = rows = rows ++ shaped(df).toJSON.collect().toSeq
}
