package graft.rules

import graft.sinks.Sink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Restart-on-failure policy (reference: rule option restartStrategy —
  * attempts/delay/multiplier/maxDelay, etc/kuiper.yaml): a streaming
  * rule whose query dies with an exception is relaunched from its
  * checkpoint after an exponential backoff, up to `attempts` times.
  */
final case class RestartPolicy(attempts: Int = 0, delayMs: Long = 1000,
                               multiplier: Double = 2.0, maxDelayMs: Long = 30000)

/** Absolute run window (reference: CronDatetimeRange rule option —
  * internal/topo/rule, datetime begin/end ranges): the rule runs only
  * inside [beginMs, endMs) and the engine starts/stops it at the
  * boundaries.
  */
final case class ScheduleRange(beginMs: Long, endMs: Long) {
  require(beginMs < endMs, "schedule window must have beginMs < endMs")
}

/** A rule: one SQL query over catalog streams/tables plus sink
  * actions — the reference's core object (`internal/topo/rule`,
  * rule JSON {"sql": ..., "actions": [...]}).
  *
  * `streaming = false` runs the rule once over the bounded sources
  * (eKuiper's scan-table/batch rule); `true` compiles the same SQL
  * onto readStream sources and runs continuously.
  */
final case class Rule(id: String, sql: String, sinks: Seq[Sink],
                      streaming: Boolean = false,
                      triggerMs: Long = 0,
                      checkpointDir: Option[String] = None,
                      graphJson: Option[String] = None,
                      restart: RestartPolicy = RestartPolicy(),
                      schedule: Seq[ScheduleRange] = Nil,
                      cron: Option[CronSchedule] = None,
                      liveLookup: Boolean = false,
                      tags: Seq[String] = Nil) {
  /** Reference IsTagsMatch (internal/pkg/def/rule.go:162): the rule
    * carries every requested tag; an empty request matches all rules.
    */
  def isTagsMatch(req: Seq[String]): Boolean = req.forall(tags.contains)
}

object Rule {
  /** Graph-API rule (JSON DAG; sinks come from the graph's sink nodes). */
  def graph(id: String, json: String, streaming: Boolean = false,
            checkpointDir: Option[String] = None): Rule =
    Rule(id, sql = "", sinks = Nil, streaming = streaming,
      checkpointDir = checkpointDir, graphJson = Some(json))
}

sealed trait RuleState
object RuleState {
  case object Created extends RuleState
  case object Running extends RuleState
  case object Stopped extends RuleState
  /** Waiting for the next schedule window to open. */
  case object Scheduled extends RuleState
  final case class Failed(err: String) extends RuleState
}

final case class RuleStatus(id: String, state: RuleState,
                            batchesProcessed: Long, rowsProcessed: Long)

/** Rule lifecycle engine (SURVEY §2.8; reference: internal/topo/
  * planner/planner.go + internal/server rule endpoints — create /
  * start / stop / delete / status / explain).
  *
  * Where the reference plans its own operator topology per rule and
  * executes it row-at-a-time on one node, graft compiles the rule's
  * SQL once through Catalyst and hands execution to Spark: batch rules
  * become jobs, streaming rules become Structured Streaming queries
  * whose state (windows, dedup, joins) lives in the distributed state
  * store and scales with executors.
  */
final class RuleEngine(spark: SparkSession, val catalog: Catalog = new Catalog) {

  /** Session rules compile against — external service functions
    * register into its function registry (RuleApi /services).
    */
  private[rules] def session: SparkSession = spark

  // rule SQL gets the full eKuiper-named function surface
  graft.functions.GraftFunctions.registerAll(spark)

  private final class Slot(@volatile var rule: Rule) {
    @volatile var state: RuleState = RuleState.Created
    @volatile var queries: Seq[StreamingQuery] = Nil
    val batches = new java.util.concurrent.atomic.AtomicLong
    val rows = new java.util.concurrent.atomic.AtomicLong
    /** Bumped on every stop/delete: in-flight schedule timers and
      * restart monitors check it and stand down when it moves.
      */
    val epoch = new java.util.concurrent.atomic.AtomicLong
  }
  private val slots = new java.util.concurrent.ConcurrentHashMap[String, Slot]()

  /** Per-rule trace capture (reference POST /rules/{name}/trace/start
    * surface). One session-level listener routes micro-batch progress
    * events back to their owning rule through an explicit
    * queryName → ruleId map populated at launch — prefix-matching the
    * rule id against query names misroutes when ids nest (rule "a"
    * restarted runs query "a_r2_0", which also prefix-matches a rule
    * literally named "a_r2").
    */
  val tracer = new RuleTracer()
  private val queryOwner =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ownedQueryName(ruleId: String, name: String): String = {
    queryOwner.put(name, ruleId); name
  }
  // the listener registers on the SHARED session lazily at the first
  // traceStart — an engine that never traces adds nothing to the
  // session's listener bus — and detaches in close(), so discarded
  // engines are not retained by the bus
  private val progressListener =
    new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val name = String.valueOf(e.progress.name)
        Option(queryOwner.get(name)).filter(tracer.isEnabled).foreach { id =>
          tracer.record(id, RuleTracer.fromProgress(e.progress))
        }
      }
    }
  // one monitor orders attach vs close: a bare CAS pair can interleave
  // as close-between-CAS-and-addListener, leaving the listener attached
  // with the flag false — permanently unremovable
  private val listenerLock = new Object
  private var listenerAttached = false
  private var engineClosed = false

  private def attachListenerOnce(): Unit = listenerLock.synchronized {
    if (!engineClosed && !listenerAttached) {
      spark.streams.addListener(progressListener)
      listenerAttached = true
    }
  }

  /** Detach the engine's session-level hooks (the progress listener)
    * and stop the schedule timer. Call when discarding an engine that
    * shares a long-lived SparkSession.
    */
  def close(): Unit = {
    listenerLock.synchronized {
      engineClosed = true
      if (listenerAttached) {
        spark.streams.removeListener(progressListener)
        listenerAttached = false
      }
    }
    timer.shutdown()
  }

  /** Enable tracing: snapshot the rule's Catalyst plan as the first
    * trace, then capture micro-batch / batch runs until stop —
    * every one under the default "always" strategy, only the first
    * `headLimit` under "head" (reference rest.go:905 head sampling).
    */
  def traceStart(id: String, strategy: String = "always",
                 headLimit: Int = 10): Unit = {
    val rule = lookup(id).rule // 404s on unknown rule
    attachListenerOnce()
    tracer.enable(id, strategy, headLimit)
    val now = System.currentTimeMillis()
    val plan = try explain(id) catch { case e: Exception => s"explain failed: ${e.getMessage}" }
    tracer.record(id, TraceSpan("plan", now, 0L,
      Map("sql" -> rule.sql, "explain" -> plan)))
  }

  def traceStop(id: String): Unit = { lookup(id); tracer.disable(id) }

  /** One shared daemon timer drives schedule windows for all rules. */
  private val timer = java.util.concurrent.Executors.newScheduledThreadPool(1, r => {
    val t = new Thread(r, "graft-rule-scheduler"); t.setDaemon(true); t
  })

  def create(rule: Rule): Unit = {
    if (rule.streaming) Sink.outputMode(rule.sinks) // graph rules' sinks: checked at start
    if (slots.putIfAbsent(rule.id, new Slot(rule)) != null)
      throw new IllegalStateException(s"rule ${rule.id} already exists")
  }

  def createStream(ddl: String): StreamDef = catalog.executeDdl(ddl)

  /** Rule definition + referenced stream names (REST /rules/{id}/topo). */
  private[rules] def ruleDef(id: String): Rule = lookup(id).rule
  private[rules] def referencedStreams(sql: String): Seq[String] =
    catalog.list.filter(n =>
      java.util.regex.Pattern.compile(s"(?i)\\b$n\\b").matcher(sql).find())
  private[rules] def setTags(id: String, tags: Seq[String]): Unit = {
    val slot = lookup(id)
    slot.rule = slot.rule.copy(tags = tags)
  }

  /** The rule's SQL in Spark dialect (eKuiper window/arrow syntax
    * translated when detected), with the reference's rule-context
    * functions substituted at plan time (funcs_misc.go): rule_id() →
    * the rule's id, rule_start() → launch epoch-millis, event_time()
    * → the stream's event-time column. Plan time IS rule start, so
    * literal substitution reproduces the reference's context values.
    */
  private def sparkSql(rule: Rule, referenced: Seq[String]): String = {
    val tsCol = referenced.flatMap(n => catalog.get(n).flatMap(_.timestampCol))
      .headOption.getOrElse("ts")
    val translated =
      if (EkuiperSql.isEkuiperDialect(rule.sql)) EkuiperSql.translate(rule.sql, tsCol)
      else rule.sql
    val substituted = EkuiperSql.mapOutsideLiterals(translated) { seg =>
      var s = seg
      s = """(?i)\brule_id\s*\(\s*\)""".r.replaceAllIn(s,
        java.util.regex.Matcher.quoteReplacement(s"'${rule.id.replace("'", "''")}'"))
      s = """(?i)\brule_start\s*\(\s*\)""".r
        .replaceAllIn(s, String.valueOf(System.currentTimeMillis()))
      s = """(?i)\bevent_time\s*\(\s*\)""".r.replaceAllIn(s, tsCol)
      s
    }
    // analytic scalar functions (lag/latest/changed_col/had_changed/
    // acc_*) become pre-projected window expressions over event-time
    // order — batch rules only: Spark disallows row-window functions
    // on streams (the streaming twins live in graft.streaming)
    if (AnalyticSql.hasAnalytic(substituted)) {
      if (rule.streaming)
        throw new IllegalArgumentException(
          "analytic functions (lag/latest/changed_col/had_changed/acc_*) in a " +
            "STREAMING rule need cross-batch state - use the typed operators in " +
            "graft.streaming.AnalyticStream, or run the rule in batch mode")
      AnalyticSql.rewrite(substituted, tsCol)
    } else substituted
  }

  /** Batch-compile a bare SQL string against the catalog — the rule
    * trial-run path (RuleApi /ruletest); same planning as a batch rule,
    * nothing registered or started.
    */
  private[rules] def compileSql(sql: String,
                                overrides: Map[String, DataFrame] = Map.empty): DataFrame =
    plan(Rule("__trial__", sql, Seq.empty), overrides)

  /** Resolve every catalog stream referenced by the rule's SQL as a
    * temp view (stream mode per the rule), then parse the SQL.
    */
  private def plan(rule: Rule,
                   overrides: Map[String, DataFrame] = Map.empty): DataFrame = {
    val referenced = referencedStreams(rule.sql)
    referenced.foreach { name =>
      overrides.get(name) match {
        // trial mockSource: the stream must exist in the catalog (it
        // names the schema); its DATA is replaced for this plan only
        case Some(mock) => mock.createOrReplaceTempView(name)
        case None => read(catalog.get(name).get, rule.streaming).createOrReplaceTempView(name)
      }
    }
    // accept the reference's own SQL dialect (TUMBLINGWINDOW(ss,10) …)
    spark.sql(sparkSql(rule, referenced))
  }

  /** A catalog stream as a rule reads it: a streaming rule's streams as
    * a readStream, all else bounded; watermarked in a streaming rule.
    */
  private def read(d: StreamDef, streaming: Boolean): DataFrame = {
    val base = if (streaming && !d.isTable) d.source.stream(spark) else d.source.batch(spark)
    (d.timestampCol, d.watermark) match {
      case (Some(ts), Some(wm)) if streaming => base.withWatermark(ts, wm)
      case _ => base
    }
  }

  /** Live-lookup output (reference: lookup sources,
    * internal/io/memory/lookupsource.go — external tables queried per
    * batch, not snapshotted at rule start): the frame is the stream,
    * and per micro-batch, once for all sinks, the SQL is re-planned with
    * every referenced table re-resolved fresh, so dimension changes land
    * in the very next micro-batch. A snapshot join (the default)
    * analyzes the table's file listing once at rule start.
    *
    * Only stateless SQL belongs here: each batch is planned in batch
    * mode, so cross-batch streaming state (windows, dedup) would reset
    * — exactly the reference's contract, where lookup joins are
    * per-event enrichments.
    */
  private def liveLookupOutput(rule: Rule): (Seq[(DataFrame, Seq[Sink])], DataFrame => DataFrame) = {
    val referenced = referencedStreams(rule.sql)
    val (tables, streams) = referenced.partition(n => catalog.get(n).exists(_.isTable))
    require(streams.size == 1,
      s"liveLookup rules need exactly one stream source, found: $streams")
    val sname = streams.head
    val sql = sparkSql(rule, referenced)
    Seq(read(catalog.get(sname).get, streaming = true) -> rule.sinks) -> { (b: DataFrame) =>
      // micro-batches run in a cloned session — register and plan
      // there, not in the outer session's catalog
      val sess = b.sparkSession
      b.createOrReplaceTempView(sname)
      tables.foreach(t =>
        catalog.get(t).get.source.batch(sess).createOrReplaceTempView(t))
      sess.sql(sql)
    }
  }

  def start(id: String): Unit = {
    val slot = lookup(id)
    val rule = slot.rule
    if (rule.schedule.isEmpty && rule.cron.isEmpty) launch(slot, rule)
    else scheduleTick(slot, rule, slot.epoch.get)
  }

  /** Schedule driver: inside a window → run and arm a stop at its end;
    * before one → arm a start at its begin; past them all → Stopped.
    * Windows come from the static `schedule` ranges, or — for a
    * periodic rule — from the cron expression's fires, with any static
    * ranges gating which fires count (reference cronDatetimeRange).
    */
  private def scheduleTick(slot: Slot, rule: Rule, ep: Long): Unit = {
    if (slot.epoch.get != ep) return // stopped/deleted meanwhile
    val now = System.currentTimeMillis()
    def armAt(atMs: Long)(body: => Unit): Unit =
      timer.schedule(new Runnable { def run(): Unit = body },
        math.max(0, atMs - now), java.util.concurrent.TimeUnit.MILLISECONDS)
    val currentWindow = rule.cron match {
      case Some(c) => c.windowAt(now, rule.schedule)
      case None => rule.schedule.find(w => now >= w.beginMs && now < w.endMs)
    }
    currentWindow match {
      case Some(w) =>
        // a launch failure parks the rule as Failed permanently — do
        // not arm the window close (it would overwrite Failed with
        // Stopped) and do not relaunch at the next window
        val launched =
          try { if (slot.state != RuleState.Running) launch(slot, rule); true }
          catch { case _: Exception => false } // launch() recorded Failed
        if (launched) armAt(w.endMs) {
          if (slot.epoch.get == ep && !slot.state.isInstanceOf[RuleState.Failed]) {
            slot.queries.foreach(q => try q.stop() catch { case _: Exception => () })
            slot.queries = Nil
            slot.state = RuleState.Stopped
            scheduleTick(slot, rule, ep)
          }
        }
      case None =>
        val nextBegin = rule.cron match {
          case Some(c) => c.nextBegin(now, rule.schedule)
          case None => rule.schedule.filter(_.beginMs > now).map(_.beginMs).minOption
        }
        nextBegin match {
          case Some(next) =>
            slot.state = RuleState.Scheduled
            armAt(next)(scheduleTick(slot, rule, ep))
          case None =>
            if (slot.state != RuleState.Stopped) slot.state = RuleState.Stopped
        }
    }
  }

  /** The rule's output frames with their sinks: one for a SQL rule; for
    * a graph rule one per distinct frame (`eq`) its sink nodes read.
    */
  private def planOutputs(rule: Rule): Seq[(DataFrame, Seq[Sink])] = rule.graphJson match {
    case Some(json) =>
      val compiled = GraphRule.compile(spark, catalog, json, rule.streaming)
      compiled.foldLeft(Vector.empty[DataFrame])((fs, c) => if (fs.exists(_ eq c.df)) fs else fs :+ c.df)
        .map(f => f -> compiled.filter(_.df eq f).map(_.sink))
    case None => Seq(plan(rule) -> rule.sinks)
  }

  /** One query per output frame, `<id>_<tag><i>` with checkpoint `<ckpt>/<i>`,
    * fanned out to its sinks: a row is read, counted by `status` and
    * checkpointed once per frame. All frames' sinks are checked first.
    */
  private def startStreams(rule: Rule, tag: String): Seq[StreamingQuery] = {
    val (outputs, perBatch) =
      if (rule.liveLookup) liveLookupOutput(rule) else (planOutputs(rule), identity[DataFrame] _)
    outputs.collect { case (df, sinks) if sinks.nonEmpty => df -> Sink.fanOut(sinks, perBatch) }
      .zipWithIndex.map { case ((df, wire), i) =>
        Sink.startQuery(df, ownedQueryName(rule.id, s"${rule.id}_$tag$i"), rule.triggerMs,
          rule.checkpointDir.map(c => s"$c/$i"))(wire)
      }
  }

  private def launch(slot: Slot, rule: Rule): Unit = {
    try {
      if (rule.streaming) {
        slot.queries = startStreams(rule, "")
        if (rule.restart.attempts > 0) monitor(slot, rule)
      } else {
        val outputs = planOutputs(rule).flatMap { case (df, sinks) => sinks.map(df -> _) }
        // piggyback the row counter on the sink's own action via
        // observe(): the old df.count() re-ran the whole plan a second
        // time just for the metric. Only a sink whose action pulls all
        // rows can host the observation — a capped sink (LogSink)
        // short-circuits the scan and would undercount; with no such
        // sink, fall back to an explicit (exact) count.
        val hostIdx = outputs.indexWhere(_._2.consumesAllRows)
        val observed = outputs.zipWithIndex.map {
          case ((df, sink), i) if i == hostIdx =>
            val obs = new org.apache.spark.sql.Observation(s"rule_${rule.id}_rows")
            (Some(obs), df.observe(obs, count(lit(1)).as("rows")), sink)
          case ((df, sink), _) => (None, df, sink)
        }
        val traceOn = tracer.isEnabled(rule.id)
        val runStart = System.currentTimeMillis()
        val sinkSpans = Seq.newBuilder[TraceSpan]
        observed.foreach { case (_, df, sink) =>
          val s0 = System.currentTimeMillis()
          sink.deliver(df)
          if (traceOn) sinkSpans += TraceSpan(
            s"sink:${sink.getClass.getSimpleName}", s0,
            System.currentTimeMillis() - s0)
        }
        if (traceOn) tracer.record(rule.id, TraceSpan(
          "batch_run", runStart, System.currentTimeMillis() - runStart,
          Map("rule" -> rule.id), sinkSpans.result()))
        slot.batches.incrementAndGet()
        observed.flatMap(_._1).headOption match {
          case Some(obs) =>
            // listener delivery is async; bounded poll instead of get()
            // (which would block forever under a sink that runs no action)
            val peek = org.apache.spark.sql.graft.ObservationBridge.getOrEmpty _
            var m = peek(obs)
            val deadline = System.nanoTime() + 5000L * 1000 * 1000
            while (m.isEmpty && System.nanoTime() < deadline) {
              Thread.sleep(10); m = peek(obs)
            }
            slot.rows.addAndGet(m.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L))
          case None =>
            outputs.headOption.foreach { case (df, _) =>
              slot.rows.addAndGet(df.count())
            }
        }
      }
      slot.state = if (rule.streaming) RuleState.Running else RuleState.Stopped // batch: one-shot
    } catch {
      case e: Exception =>
        slot.state = RuleState.Failed(String.valueOf(e.getMessage))
        throw e
    }
  }

  /** Restart-on-failure monitor (rule.restart): polls the rule's
    * queries; a query that died with an exception triggers a relaunch
    * from the checkpoint after exponential backoff, up to `attempts`
    * times, then Failed. Stands down when the slot's epoch moves
    * (stop/delete) or every query terminates cleanly.
    */
  private def monitor(slot: Slot, rule: Rule): Unit = {
    val ep = slot.epoch.get
    val t = new Thread(() => {
      var attempt = 0
      var delay = rule.restart.delayMs
      var done = false
      while (!done && slot.epoch.get == ep) {
        Thread.sleep(200)
        val qs = slot.queries
        if (qs.isEmpty) done = true // stopped externally
        else if (qs.exists(_.exception.isDefined)) {
          val err = qs.flatMap(_.exception).headOption
            .map(e => String.valueOf(e.getMessage)).getOrElse("query failed")
          qs.foreach(q => try q.stop() catch { case _: Exception => () })
          if (attempt < rule.restart.attempts && slot.epoch.get == ep) {
            attempt += 1
            Thread.sleep(delay)
            delay = math.min((delay * rule.restart.multiplier).toLong,
              rule.restart.maxDelayMs)
            if (slot.epoch.get == ep)
              try {
                slot.queries = startStreams(rule, s"r${attempt}_")
                slot.state = RuleState.Running
              } catch { case e: Exception =>
                slot.state = RuleState.Failed(String.valueOf(e.getMessage)); done = true
              }
          } else {
            slot.state = RuleState.Failed(err)
            slot.queries = Nil
            done = true
          }
        } else if (qs.forall(!_.isActive)) done = true
      }
    }, s"graft-rule-monitor-${rule.id}")
    t.setDaemon(true)
    t.start()
  }

  def stop(id: String): Unit = {
    val slot = lookup(id)
    slot.epoch.incrementAndGet() // stand down timers and monitors
    slot.queries.foreach(_.stop())
    slot.queries = Nil
    slot.state = RuleState.Stopped
    // retire this rule's query-name routes (restarts mint new names,
    // so without cleanup the map grows one entry per launch forever)
    queryOwner.entrySet().removeIf(e => e.getValue == id)
  }

  def delete(id: String): Unit = {
    if (slots.containsKey(id)) stop(id)
    slots.remove(id)
  }

  def status(id: String): RuleStatus = {
    val slot = lookup(id)
    val (b, r) = slot.queries.foldLeft((slot.batches.get, slot.rows.get)) {
      case ((bb, rr), q) =>
        val p = Option(q.lastProgress)
        (bb + p.map(_.batchId + 1).getOrElse(0L),
         rr + p.map(_.numInputRows).getOrElse(0L))
    }
    RuleStatus(id, slot.state, b, r)
  }

  /** Phase times (`StreamingQueryProgress.durationMs`) of the rule's
    * last micro-batch, per phase the slowest of its queries (one per
    * output frame); empty for a batch rule and before the first batch.
    */
  private[rules] def lastBatchPhases(id: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    lookup(id).queries.flatMap(q => Option(q.lastProgress))
      .flatMap(_.durationMs.asScala)
      .groupMapReduce(_._1)(_._2.longValue)(math.max)
  }

  /** The reference's EXPLAIN endpoint: the Catalyst plan the rule
    * compiles to (formatted mode shows codegen spans + pushed filters).
    */
  def explain(id: String): String = {
    // explain on the batch form (streaming plans resolve per batch)
    val df = planOutputs(lookup(id).rule.copy(streaming = false)).head._1
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode)
  }

  def list: Seq[String] = {
    import scala.jdk.CollectionConverters._
    slots.keySet().asScala.toSeq.sorted
  }

  /** Block until all streaming queries of a rule are idle (test helper —
    * mirrors processAllAvailable).
    */
  def processAllAvailable(id: String): Unit =
    lookup(id).queries.foreach(_.processAllAvailable())

  private def lookup(id: String): Slot =
    Option(slots.get(id)).getOrElse(throw new NoSuchElementException(s"rule $id"))
}
