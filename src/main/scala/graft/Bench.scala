package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, V2TableWriteExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.JsonAST.{JDouble, JInt, JObject, JString}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{pretty, render}

/** The measurement main: times every SparkEntry query at the given SF
  * (`SPARK_GRAFT_SF_DIR`, default sf0.1), or the subset
  * `SPARK_GRAFT_QUERIES` names (see [[SparkEntry.selected]]).
  * Each query is fully evaluated through a noop sink (count() lets
  * Catalyst prune unevaluated projections, under-measuring projection
  * queries). One warm-up query absorbs JVM/classloader/parquet-footer
  * startup, then each query runs SPARK_GRAFT_RUNS times (default 3) and
  * the median is reported — the first run pays any per-query codegen /
  * footer cost and the median discards that outlier, which keeps
  * run-to-run variance well under the ~20% single-shot noise. Failures
  * are recorded by name, never silently timed as fast runs.
  *
  * Output: the full one-line JSON record (unchanged since r1), then —
  * r22 — one compact summary line LAST (total/failed/n/slowest-10)
  * sized to always fit the harness's ~2 kB stdout tail whole; the
  * full record also lands in $SPARK_GRAFT_BENCH_OUT when set.
  *
  * After the timed passes, one untimed profiled run per query (see
  * [[profile]]) writes the per-query record `bench_last.json` to the
  * working directory: the timed median `time_s` (absent if every timed
  * run failed), an `error` if the profiled run failed, else the
  * construct / plan / exec phases with their seconds, jobs, stages,
  * tasks and spilled bytes, and operator counts of the plan the write
  * ran after AQE re-planned it. That plan's text goes to
  * `bench_plans/<query>.txt`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.cpus("4"))

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val names = SparkEntry.selected()
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toIntOption.getOrElse(3).max(1)
    // warm-up (untimed): one agg query touching the biggest table
    try runOnce(names.find(_ == "q_agg").getOrElse(names.head))
    catch { case _: Throwable => () }

    // Queries that persist/localCheckpoint (q_win_count, the dedup family)
    // leave storage blocks behind; rerunning 67 queries x N in one JVM
    // accumulates enough of them that eviction churn inflates later runs
    // 2-4x. Clear the cache and drop unreferenced checkpoint RDDs between
    // timed runs so each measurement starts from the same storage state.
    def resetStorage(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc() // lets the ContextCleaner reclaim localCheckpoint RDDs
    }

    val failed = scala.collection.mutable.ListBuffer[String]()
    def timedPass(): Seq[(String, Double)] = names.map { name =>
      val sec =
        try {
          val times = (1 to runs).map { _ =>
            resetStorage()
            runOnce(name)
          }.sorted
          times(times.length / 2)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed += name; -1.0
        }
      name -> sec
    }

    // Stability guard: a loaded box inflates a whole pass uniformly
    // (totals drift +-15% run to run while per-query medians are stable;
    // BENCH_r13 recorded a +53% loaded-box artifact). Probe by re-running
    // the 5 most expensive queries once after the pass; if the probe
    // disagrees with the recorded medians by >15%, time a second full
    // pass and keep the per-query MIN of the two (load only ever adds
    // time, so min-of-passes is the unloaded-box estimate).
    var results = timedPass()
    val probeNames = results.filter(_._2 >= 0).sortBy(-_._2).take(5).map(_._1)
    if (probeNames.nonEmpty && sys.env.get("SPARK_GRAFT_STABILITY").forall(_ != "off")) {
      val recorded = probeNames.map(n => results.toMap.apply(n)).sum
      val probed = probeNames.map { n => resetStorage(); try runOnce(n) catch { case _: Throwable => 0.0 } }.sum
      if (recorded > 0 && math.abs(probed - recorded) / recorded > 0.15) {
        System.err.println(f"[bench] unstable box (probe ${probed}%.1fs vs recorded ${recorded}%.1fs); second pass")
        val second = timedPass().toMap
        results = results.map { case (k, v) =>
          // a query that failed one pass keeps the other pass's valid
          // measurement — min() with a -1.0 failure marker would
          // discard good data
          val s = second.getOrElse(k, v)
          val best = (if (v < 0) s else if (s < 0) v else math.min(v, s))
          k -> best
        }
      }
    }
    // 4-decimal seconds (0.1 ms — below measurement noise): full
    // nanosecond doubles bloated the 146-query JSON line; locale-ROOT
    // so the decimal point survives any JVM locale
    def fmt(v: Double): String =
      "%.4f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // derive from the merged results — a query that failed one pass but
    // measured in the other is not failed
    val fl = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // the harness records only the LAST ~2 kB of output, which clips
    // the head of this line — the per-query map cannot fit, so the
    // summary fields (value/failed/sf) go AFTER it to land inside the
    // recorded tail no matter where the clip falls
    val line = s"""{"metric":"total","unit":"sec","queries":$qs,""" +
      s""""value":${fmt(total)},"failed":$fl,"n":${results.size},"sf":"$sfDir"}"""
    println(line)
    // r22 (VERDICT r21 #2): the harness records only the LAST ~2 kB of
    // stdout, which clips the HEAD of the ~5 kB full line above —
    // unparseable for 21 straight rounds. A second, ≤1 kB summary line
    // printed LAST always fits the recorded tail whole: total, failed,
    // n, sf, and the 10 slowest queries under "slowest" (NOT
    // "queries", so a parser that diffs the per-query map never
    // mistakes the top-10 for a 10-query bench). The full line above
    // and the $SPARK_GRAFT_BENCH_OUT file keep the complete record —
    // this is an ADDITION, no existing field moved or changed.
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"summary","unit":"sec","value":${fmt(total)},""" +
      s""""failed":$fl,"n":${results.size},"slowest":$slowest,"sf":"$sfDir"}""")
    // the full record additionally lands in a FILE when the caller asks
    // (SPARK_GRAFT_BENCH_OUT=<path>) — tail-clipping-proof by
    // construction
    sys.env.get("SPARK_GRAFT_BENCH_OUT").filter(_.nonEmpty).foreach { p =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }

    // the per-query record: one untimed, profiled run of each query
    val t0 = System.nanoTime()
    val plansDir = new java.io.File("bench_plans")
    org.apache.commons.io.FileUtils.deleteQuietly(plansDir)
    plansDir.mkdirs()
    val timed = results.toMap
    val record = names.map { name =>
      resetStorage()
      val run =
        try {
          val p = profile(spark, sfDir, name)
          Files.writeString(plansDir.toPath.resolve(s"$name.txt"), p.planText)
          p.json
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name profiled run FAILED: ${e.getMessage}")
          JObject("error" -> JString(String.valueOf(e.getMessage)))
        }
      val time = if (timed(name) >= 0) List("time_s" -> JDouble(round4(timed(name)))) else Nil
      name -> (JObject(time) ~ run)
    }
    val json = ("sf" -> sfDir) ~ ("cores" -> spark.sparkContext.defaultParallelism) ~
      ("runs" -> runs) ~ ("profile_s" -> round4((System.nanoTime() - t0) / 1e9)) ~
      ("queries" -> JObject(record.toList))
    Files.writeString(Paths.get("bench_last.json"), pretty(render(json)) + "\n")
    spark.stop()
  }

  private def round4(v: Double): Double = math.round(v * 1e4) / 1e4

  /** One profiled run of a query: the seconds and Spark work of its
    * phases, and the plan its noop write ran, which holds AQE's final plan
    * (`isFinalPlan=true`).
    */
  final case class Profiled(construct: JobCounter.Counts, plan: JobCounter.Counts,
                            exec: JobCounter.Counts, finalPlan: SparkPlan) {
    lazy val planText: String = finalPlan.toString
    private def phase(c: JobCounter.Counts): JObject = ("s" -> round4(c.seconds)) ~
      ("jobs" -> c.jobs) ~ ("stages" -> c.stages) ~ ("tasks" -> c.tasks) ~ ("spill_bytes" -> c.spillBytes)
    def json: JObject =
      ("construct" -> phase(construct)) ~ ("plan" -> phase(plan)) ~ ("exec" -> phase(exec)) ~
        JObject(Census(finalPlan).map { case (k, v) => k -> JInt(v) }.toList) ~
        ("plan_chars" -> planText.length)
  }

  /** Runs query `name` once, untimed, in three phases: construct (build
    * the DataFrame, including the jobs its operators run), plan (Catalyst
    * to `executedPlan`) and exec (the noop write). The write builds its
    * own `QueryExecution`, so its final plan is taken from a listener:
    * `df.queryExecution` keeps the initial adaptive plan.
    */
  def profile(spark: SparkSession, sfDir: String, name: String): Profiled = {
    val written = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) written.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val sc = spark.sparkContext
      val (df, construct) = JobCounter(sc)(SparkEntry.queries(name)(spark, sfDir))
      val (_, plan) = JobCounter(sc)(df.queryExecution.executedPlan)
      val (_, exec) = JobCounter(sc)(df.write.format("noop").mode("overwrite").save())
      val qe = Option(written.poll(60, TimeUnit.SECONDS))
        .getOrElse(sys.error("the write's plan did not arrive within 60 s"))
      Profiled(construct, plan, exec, qe.executedPlan)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Operator counts of a plan, through adaptive query stages and
    * subqueries. `exchanges` counts shuffle and broadcast exchanges, as
    * perfbench's `exec.exchanges` does; a reused exchange is not one.
    */
  private object Census extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): Seq[(String, Int)] = {
      val nodes = collectWithSubqueries(plan) { case p => p }
      def n(pf: PartialFunction[SparkPlan, Unit]): Int = nodes.count(pf.isDefinedAt)
      Seq(
        "scans" -> n { case _: DataSourceScanExec | _: BatchScanExec => },
        "exchanges" -> n { case _: Exchange => },
        "reused_exchanges" -> n { case _: ReusedExchangeExec => },
        "broadcast_exchanges" -> n { case _: BroadcastExchangeLike => },
        "broadcast_hash_joins" -> n { case _: BroadcastHashJoinExec => },
        "sort_merge_joins" -> n { case _: SortMergeJoinExec => },
        "shuffled_hash_joins" -> n { case _: ShuffledHashJoinExec => },
        "aqe_shuffle_reads" -> n { case _: AQEShuffleReadExec => })
    }
  }
}
