package perfbench

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** Tests of the tracer: that it counts what it claims.
  *
  *  - jobs run while a DataFrame is being built are counted in the
  *    construction phase, also when they start on a thread that did not
  *    inherit the phase tag;
  *  - counters are read only after the listener bus has drained, so a
  *    slow listener ahead of the tracer does not hide work;
  *  - two traced runs of a deterministic query give identical counts.
  */
object SelfTest {
  def run(conf: Conf): Outcome = {
    val spark = Main.newSession(conf)
    graft.Tables.registerAll(spark, conf.dataDir)
    val results = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    def test(name: String)(body: => (Boolean, Map[String, Any])): Unit = {
      val r = try body catch { case e: Throwable =>
        (false, Map[String, Any]("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      results(name) = r._2 + ("ok" -> r._1)
      System.err.println(s"[selftest] ${if (r._1) "ok  " else "FAIL"} $name ${r._2}")
    }

    test("construction-phase jobs are counted") {
      // a pool thread created before the phase starts does not inherit
      // the tag; its job is attributed by submission time
      val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
      pool.submit(new Runnable { def run(): Unit = () }).get()
      val all = new AtomicInteger(0)
      val counter = new SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          all.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(counter)
      val tr = new Tracer(spark)
      try {
        val df = tr.phase("t/construct") {
          val n = spark.range(0, 100, 1, 4).collect().length // driver-side job(s)
          val m = pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = spark.range(0, 50, 1, 2).count() // untagged job(s)
          }).get()
          spark.range(0, n + m, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()
        }
        tr.phase("t/exec")(df.write.format("noop").mode("overwrite").save())
        val (c, _) = tr.collect()
        val cj = c.get("t/construct").map(_.jobs).getOrElse(0)
        val ej = c.get("t/exec").map(_.jobs).getOrElse(0)
        // every job is attributed, at least the two started while the
        // DataFrame was built land in the construction phase
        (cj >= 2 && ej >= 1 && cj + ej == all.get() && !c.contains("unattributed"),
          Map("construct_jobs" -> cj, "exec_jobs" -> ej, "all_jobs" -> all.get(),
            "phases" -> c.keys.toSeq.sorted))
      } finally {
        tr.close(); pool.shutdown()
        spark.sparkContext.removeSparkListener(counter)
      }
    }

    test("counters are read after the listener bus drains") {
      // a slow listener registered first holds up delivery to the rest of
      // its queue; a counter read as soon as the action returns misses
      // stages, the tracer's (drained) reading does not
      val slow = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(400)
      }
      spark.sparkContext.addSparkListener(slow)
      val naive = new AtomicInteger(0)
      val naiveListener = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = naive.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(naiveListener)
      val tr = new Tracer(spark)
      try {
        val df = spark.range(0, 10000, 1, 4).selectExpr("id % 13 AS k")
          .repartition(3).groupBy("k").count()
        tr.phase("d/exec")(df.write.format("noop").mode("overwrite").save())
        val early = naive.get()
        val (c, _) = tr.collect()
        val stages = c.get("d/exec").map(_.stages).getOrElse(0)
        (stages > 0 && stages == naive.get() && early < stages,
          Map("stages_drained" -> stages, "stages_read_early" -> early))
      } finally {
        tr.close()
        spark.sparkContext.removeSparkListener(slow)
        spark.sparkContext.removeSparkListener(naiveListener)
      }
    }

    test("two traced runs of a deterministic query give identical counts") {
      val qs = Seq("q_agg", "q_join_multi")
      def once(): Map[String, (PhaseCounts, PlanCounts)] = {
        val tr = new Tracer(spark)
        try qs.map { q =>
          spark.catalog.clearCache()
          val df = tr.phase(s"$q/construct")(SparkEntry.queries(q)(spark, conf.dataDir))
          tr.phase(s"$q/exec")(df.write.format("noop").mode("overwrite").save())
          val (c, qes) = tr.collect()
          q -> ((c.getOrElse(s"$q/exec", PhaseCounts()).copy(taskBusyS = 0.0),
            qes.lastOption.map(e => PlanCounts.of(e.executedPlan)).getOrElse(PlanCounts())))
        }.toMap finally tr.close()
      }
      val a = once()
      val b = once()
      (a == b && a.values.forall(_._1.jobs > 0),
        Map("first" -> a.map { case (k, v) => k -> v.toString }, "second" -> b.map { case (k, v) => k -> v.toString }))
    }

    spark.stop()
    val failed = results.count(!_._2("ok").asInstanceOf[Boolean])
    Outcome(Map.empty, Map.empty, attempted = results.size, failed = failed,
      queries = Map.empty, checks = results.toMap)
  }
}
