package graft
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** Dump `.explain("formatted")` for the named queries (or all) to one
  * file per query — the optimization rounds' plan evidence
  * (plans/rNN/<query>_{before,after}.txt). Same session config as
  * Bench so the captured plan is the benched plan.
  *
  * Usage: runMain graft.PlanDump <outDir> [suffix] [q_a,q_b,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: runMain graft.PlanDump <outDir> [suffix] [q_a,q_b,...]")
      sys.exit(2)
    }
    val outDir = args(0)
    val suffix = if (args.length > 1) args(1) else "plan"
    val names = if (args.length > 2)
      args(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.cpus("4"))
    Files.createDirectories(Paths.get(outDir))
    // "exec" as a 4th arg: run the query (a noop write, as Bench does)
    // and dump the write's FINAL adaptive plan instead of the initial
    // one — this is where ReusedExchange / AQE join rewrites are visible.
    // Listener events arrive asynchronously; the write's is awaited.
    val execMode = args.length > 3 && args(3) == "exec"
    val written = new LinkedBlockingQueue[QueryExecution]()
    if (execMode) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) written.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = if (execMode) {
          written.clear()
          df.write.format("noop").mode("overwrite").save()
          Option(written.poll(60, TimeUnit.SECONDS))
            .getOrElse(sys.error("the write's plan did not arrive within 60 s"))
            .executedPlan.toString
        } else df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
