package graft
import org.apache.spark.sql.DataFrame

/** Per-query phase profile (guide §1: measure first): splits a query's
  * wall time into driver-side planning (analysis→executedPlan) vs
  * execution, and counts the Spark jobs / stages / tasks each run
  * schedules — the fixed-overhead fingerprint that dominates small-SF
  * benches (a query that runs 9 jobs because its operator collects
  * vocab tables pays 9 scheduling rounds regardless of data size).
  * `cjobs` counts the jobs run while the DataFrame is built and planned;
  * `jobs`, `stages`, `tasks` and `spill_mb` those of the first execution
  * (counted by [[JobCounter]]).
  *
  * Usage: runMain graft.Profile [q_a,q_b,...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.cpus("32"))

    val names = if (args.nonEmpty)
      args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    else SparkEntry.queries.keys.toSeq.sorted

    def resetStorage(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def write(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    try write(SparkEntry.queries("q_agg")(spark, sfDir))
    catch { case _: Throwable => () }

    println(f"${"query"}%-28s ${"plan_s"}%8s ${"exec1_s"}%8s ${"exec2_s"}%8s ${"cjobs"}%5s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"spill_mb"}%9s")
    names.foreach { name =>
      try {
        resetStorage()
        // operators that collect (vocab/centroids) run jobs while the
        // DataFrame is built: their time is in plan_s, their jobs in cjobs
        val ((df, planS), built) = JobCounter(spark.sparkContext)(timed {
          val d = SparkEntry.queries(name)(spark, sfDir)
          d.queryExecution.executedPlan // force analysis+optimization+planning
          d
        })
        val ((_, exec1S), ran) = JobCounter(spark.sparkContext)(timed(write(df)))
        resetStorage()
        val (_, exec2S) = timed(write(SparkEntry.queries(name)(spark, sfDir)))
        println(f"$name%-28s $planS%8.3f $exec1S%8.3f $exec2S%8.3f ${built.jobs}%5d ${ran.jobs}%5d ${ran.stages}%7d ${ran.tasks}%6d ${ran.spillBytes / 1e6}%9.1f")
      } catch { case e: Throwable =>
        println(f"$name%-28s FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
