package perfbench

import graft.{Goldens, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import scala.collection.mutable
import scala.util.Random

/** A batch workload: a fixed set of `SparkEntry.queries` names. */
final case class BatchSpec(name: String, queries: Seq[String])

/** Runs a batch workload: set-up, the output checks (untimed; they also
  * run every query once, which warms the JIT), then timed passes over
  * the queries in orders drawn from the seed. Before each query, untimed
  * for it, the control job of `HostSpeed` reads the host's speed.
  *
  * Each query is built, planned and written to Spark's noop sink, as
  * `graft.Bench` does. With tracing on, the three phases run separately
  * under the tracer: construction (`SparkEntry.queries(name)(spark,
  * dir)`, including the jobs its operators run), Catalyst planning
  * (`queryExecution.executedPlan`) and execution (the noop write).
  */
object BatchWorkload {
  /** Timed passes: as many as fit in `--seconds`, at least this many;
    * each query reports its median.
    */
  val MinPasses = 3
  /** The control job's median wall time and mean CPU time between
    * queries on a quiet host (a 4-vCPU VM with under 1% steal); see
    * HostSpeed.
    */
  val RefControlS = 0.185
  val RefControlCpuS = 0.30

  /** The workload's query set, a systematic sample of each full set by
    * sorted name: every `k`th name from offset `off`. A full pass over
    * the 71 eKuiper-SQL queries takes about 120 s cold at sf0.1 on 4
    * cores, and one over the 75 curation queries about 120 s; neither
    * fits the run budget. The offsets were picked, from one traced warm
    * pass over each full set, so that each sample's split of time into
    * construction, planning and execution is close to its full set's
    * (the comparison is in README.md).
    */
  private def everyKth(names: Iterable[String], k: Int, off: Int): Seq[String] =
    names.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % k == off => n }

  /** CoreSql, WindowQueries, AnalyticQueries, FunctionQueries,
    * TemporalQueries, CodecQueries and ExportQueries.
    */
  private def sqlNames: Seq[String] = {
    import graft.{queries => Q}
    (Q.CoreSql.qs.keys ++ Q.WindowQueries.qs.keys ++ Q.AnalyticQueries.qs.keys ++
      Q.AnalyticQueries.sqlDialect.keys ++ Q.FunctionQueries.qs.keys ++
      Q.TemporalQueries.qs.keys ++ Q.CodecQueries.qs.keys ++ Q.ExportQueries.qs.keys).toSeq
  }

  /** PipelineQueries and SketchQueries. */
  private def curationNames: Seq[String] = {
    import graft.{queries => Q}
    (Q.PipelineQueries.qs.keys ++ Q.SketchQueries.qs.keys).toSeq
  }

  lazy val specs: Map[String, BatchSpec] = Map(
    "sql_curation" -> BatchSpec("sql_curation",
      everyKth(sqlNames, 18, 4) ++ everyKth(curationNames, 19, 17)))

  def run(conf: Conf, spec: BatchSpec, jvmS: Double): Outcome = {
    // set-up: session, table registration (which reads every table's
    // schema) and the warm-up, which is the output checks' pass below
    val s0 = System.nanoTime()
    val spark = Main.newSession(conf)
    Tables.registerAll(spark, conf.dataDir)

    val qmap = SparkEntry.queries
    if (conf.trace) {
      val oracle = SparkEntry.oracleSql.filter { case (q, _) => spec.queries.contains(q) }
      java.nio.file.Files.write(java.nio.file.Paths.get(conf.workDir, "oracle.json"),
        Json.render(oracle).getBytes("UTF-8"))
    }
    val order = new Random(conf.seed).shuffle(spec.queries)

    // output checks, before the timed region: they also warm the JIT and
    // the code-generation cache for every query
    val c0 = System.nanoTime()
    val (checks, inputRows) = Checks.batch(conf, spark, order, qmap)
    val checkS = (System.nanoTime() - c0) / 1e9

    def write(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val setupRawS = jvmS + (System.nanoTime() - s0) / 1e9
    val speed = new HostSpeed(spark, RefControlS, Some(RefControlCpuS))
    speed.warm()

    val tracer = if (conf.trace) Some(new Tracer(spark)) else None
    val heap = new HeapAfterGc
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Sample]]
    val errors = mutable.LinkedHashMap.empty[String, String]

    // ---- timed region: warm passes over the workload's queries ----
    heap.start()
    val win = new HostWindow
    val rnd = new Random(conf.seed)
    val t0 = System.nanoTime()
    var passes = 0
    val passHeapMb = mutable.ArrayBuffer.empty[Double]
    while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < conf.seconds) {
      passes += 1
      val passOrder = if (passes == 1) order else rnd.shuffle(order)
      passOrder.foreach { name =>
        // between queries, untimed: drop cached data and checkpoint blocks,
        // time the control job, and collect garbage, so each query starts
        // from the same state
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        speed.sample()
        System.gc()
        org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
        val cpu0 = Host.processCpuS()
        val gc0 = Host.gcS()
        val jit0 = Host.jitS()
        val cg0 = Host.codegenCompiles()
        val q0 = System.nanoTime()
        val traced = try tracer match {
          case None => write(qmap(name)(spark, conf.dataDir)); None
          case Some(tr) =>
            tr.collect() // start the query with empty buffers
            val a = System.nanoTime()
            val df = tr.phase(s"$name/construct")(qmap(name)(spark, conf.dataDir))
            val b = System.nanoTime()
            tr.phase(s"$name/plan")(df.queryExecution.executedPlan)
            val c = System.nanoTime()
            tr.phase(s"$name/exec")(write(df))
            val d = System.nanoTime()
            val (counts, qes) = tr.collect()
            Some(Traced((b - a) / 1e9, (c - b) / 1e9, (d - c) / 1e9,
              counts.getOrElse(s"$name/construct", PhaseCounts()),
              counts.getOrElse(s"$name/plan", PhaseCounts()),
              counts.getOrElse(s"$name/exec", PhaseCounts()),
              qes.lastOption.map(q => PlanCounts.of(q.executedPlan)).getOrElse(PlanCounts())))
        } catch { case e: Throwable =>
          errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          None
        }
        val dt = (System.nanoTime() - q0) / 1e9
        samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
          Sample(dt, Host.processCpuS() - cpu0, Host.gcS() - gc0, Host.jitS() - jit0,
            Host.codegenCompiles() - cg0, traced)
      }
      passHeapMb += heap.takeWindow()
    }
    val steal = win.stealFrac
    val load1m = Host.loadAvg1m()
    val (heapMajor, heapAny) = heap.stop()
    heap.close()
    tracer.foreach(_.close())
    // ---- end of timed region ----

    // per query, its median pass; its other figures come from that pass
    val mid = order.map { n =>
      val xs = samples(n).sortBy(_.timeS)
      n -> xs(xs.size / 2)
    }.toMap
    val raw = order.map(n => Stats.median(samples(n).map(_.timeS).toSeq))
    val cpuRawS = order.map(n => Stats.median(samples(n).map(_.cpuS).toSeq)).sum
    val tr = order.flatMap(n => mid(n).traced)
    val execCounts = tr.map(_.exec).foldLeft(PhaseCounts())(_ + _)
    val planCounts = tr.map(_.plan).foldLeft(PlanCounts())(_ + _)
    val execS = tr.map(_.execS).sum
    val failedQueries = order.filter(n => errors.contains(n) ||
      !checks.get(n).exists(_.getOrElse("ok", false) == true))
    // timings of the timed region at the reference host speed (see
    // HostSpeed); the raw figures are in the record. Between queries
    // nothing else runs, so the control job's CPU time is its own.
    def endToEndAt(f: Double, fc: Double): Map[String, Double] = {
      val ts = raw.map(_ / f)
      Map(
        "setup_s" -> setupRawS / f,
        "wall_s" -> ts.sum,
        "geomean_query_s" -> Stats.geomean(ts),
        "cpu_s" -> cpuRawS / fc,
        "peak_heap_mb" -> Stats.median(passHeapMb.toSeq),
        "stream_rows_per_s" -> inputRows / ts.sum,
        "latency_p50_ms" -> Stats.quantile(ts, 0.5) * 1000,
        "latency_p99_ms" -> Stats.quantile(ts, 0.99) * 1000)
    }
    val endToEnd = endToEndAt(speed.factor, speed.cpuFactor.getOrElse(1.0))
    val perLayer = StreamWorkload.zeroStreamLayers ++ Map(
      "queries.construct_s" -> tr.map(_.constructS).sum,
      "queries.construct_jobs" -> tr.map(_.construct.jobs).sum.toDouble,
      "catalyst.plan_s" -> tr.map(_.planS).sum,
      "exec.jobs" -> execCounts.jobs.toDouble,
      "exec.stages" -> execCounts.stages.toDouble,
      "exec.tasks" -> execCounts.tasks.toDouble,
      "exec.exec_s" -> execS,
      "exec.task_busy_s" -> execCounts.taskBusyS,
      "exec.core_util" -> (if (execS > 0) execCounts.taskBusyS / (execS * conf.cores) else 0.0),
      "exec.shuffle_read_bytes" -> execCounts.shuffleReadBytes.toDouble,
      "exec.shuffle_write_bytes" -> execCounts.shuffleWriteBytes.toDouble,
      "exec.scans" -> planCounts.scans.toDouble,
      "exec.exchanges" -> planCounts.exchanges.toDouble,
      "exec.reused_exchanges" -> planCounts.reusedExchanges.toDouble,
      "exec.spill_bytes" -> execCounts.spillBytes.toDouble,
      "sinks.write_ms" -> Stats.mean(tr.map(_.execS * 1000)),
      "jvm.gc_s" -> order.map(n => mid(n).gcS).sum,
      "host.steal_frac" -> steal,
      "host.control_s" -> speed.wallS)
    val detail = order.map { n =>
      n -> (Map[String, Any]("time_s" -> mid(n).timeS, "times_s" -> samples(n).map(_.timeS),
        "cpu_s" -> samples(n).map(_.cpuS), "gc_s" -> samples(n).map(_.gcS),
        "jit_s" -> samples(n).map(_.jitS), "codegen_compiles" -> samples(n).map(_.codegen)) ++ mid(n).traced.map(t => Map(
        "construct_s" -> t.constructS, "plan_s" -> t.planS, "exec_s" -> t.execS,
        "construct" -> phaseMap(t.construct), "plan" -> phaseMap(t.planPhase),
        "exec" -> phaseMap(t.exec), "scans" -> t.plan.scans, "exchanges" -> t.plan.exchanges,
        "reused_exchanges" -> t.plan.reusedExchanges)).getOrElse(Map.empty))
    }.toMap
    Outcome(endToEnd, if (conf.trace) perLayer else Map.empty,
      attempted = order.size, failed = failedQueries.size,
      queries = detail, checks = checks,
      extra = Map("order" -> order, "passes" -> passes, "errors" -> errors.toMap,
        "end_to_end_raw" -> endToEndAt(1.0, 1.0), "host_speed" -> speed.record,
        "jvm_start_s" -> jvmS, "check_s" -> checkS,
        "host" -> Map("steal_frac" -> steal, "load1m_start" -> win.load1mStart,
          "load1m_end" -> load1m, "nproc" -> Runtime.getRuntime.availableProcessors),
        "peak_heap_major_gc_mb" -> heapMajor, "peak_heap_any_gc_mb" -> heapAny,
        "pass_peak_heap_mb" -> passHeapMb.toSeq, "input_rows" -> inputRows,
        "code_cache_mb" -> Host.codeCacheMb()))
  }

  /** One timed execution of a query; `traced` holds its phase split. */
  private final case class Sample(timeS: Double, cpuS: Double, gcS: Double, jitS: Double,
                                  codegen: Long, traced: Option[Traced])
  private final case class Traced(constructS: Double, planS: Double, execS: Double,
                                  construct: PhaseCounts, planPhase: PhaseCounts,
                                  exec: PhaseCounts, plan: PlanCounts)

  def phaseMap(c: PhaseCounts): Map[String, Any] = Map(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "task_busy_s" -> c.taskBusyS,
    "shuffle_read_bytes" -> c.shuffleReadBytes, "shuffle_write_bytes" -> c.shuffleWriteBytes,
    "spill_bytes" -> c.spillBytes)
}

/** Output checks. They run before the timed region. */
object Checks {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** Reference fingerprints recorded by the benchmark:
    * {"queries": {name: {"rows": n, "fingerprint": "..."}}}.
    */
  def loadRef(path: String): Map[String, (Long, String)] =
    if (path.isEmpty || !java.nio.file.Files.exists(java.nio.file.Paths.get(path))) Map.empty
    else {
      implicit val fmt: Formats = DefaultFormats
      val j = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"))
      (j \ "queries").extract[Map[String, Map[String, JValue]]].map { case (k, v) =>
        k -> (v("rows").extract[Long], v("fingerprint").extract[String])
      }
    }

  /** Fingerprint (Goldens.fingerprint over the collected result) and row
    * count of every query, compared with the reference file; also the
    * input rows the queries' plans read, for the rows-per-second figure.
    */
  def batch(conf: Conf, spark: SparkSession, order: Seq[String],
            qmap: Map[String, (SparkSession, String) => DataFrame]): (Map[String, Map[String, Any]], Double) = {
    val ref = loadRef(conf.ref)
    val tableRows = rowCounts(spark, conf.dataDir)
    var inputRows = 0.0
    val res = order.map { name =>
      val t0 = System.nanoTime()
      val r: Map[String, Any] = try {
        val df = qmap(name)(spark, conf.dataDir)
        val tables = df.queryExecution.analyzed.collectLeaves().collect {
          case l: LogicalRelation => l.relation
        }.collect { case h: HadoopFsRelation => h.location.rootPaths }
          .flatten.map(_.getName.stripSuffix(".parquet")).distinct
        inputRows += tables.flatMap(tableRows.get).sum.toDouble
        val rows = df.collect()
        val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        val (exclude, dp) = Goldens.rowsOnly.getOrElse(name, (Set.empty[String], 6))
        val fp = Goldens.fingerprint(local, exclude, dp)
        val ok = conf.recordRef || ref.get(name).contains((rows.length.toLong, fp))
        Map("ok" -> ok, "rows" -> rows.length, "fingerprint" -> fp,
          "expected" -> ref.get(name).map { case (n, f) => Map("rows" -> n, "fingerprint" -> f) })
      } catch { case e: Throwable =>
        Map("ok" -> false, "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      name -> (r + ("check_s" -> (System.nanoTime() - t0) / 1e9))
    }.toMap
    (res, inputRows)
  }

  /** Row count of every table, kept beside the generated data. */
  private def rowCounts(spark: SparkSession, dir: String): Map[String, Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val f = java.nio.file.Paths.get(dir, "row_counts.json")
    if (java.nio.file.Files.exists(f))
      JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(f), "UTF-8")).extract[Map[String, Long]]
    else {
      val m = Tables.all.map(t => t -> spark.table(t).count()).toMap
      java.nio.file.Files.write(f, Json.render(m).getBytes("UTF-8"))
      m
    }
  }
}
