package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Scale-rehearsal plan auditor: executes the named queries at the
  * given SF dir and prints the FINAL adaptive plan's shape — join
  * strategies, shuffle-exchange count, and whether the big fact/corpus
  * table sits under a shuffle. Used with [[GenData]]'s sf1 output to
  * demonstrate (not just argue) that the plans that broadcast at
  * sf0.1 re-plan sensibly at 10x: AQE switching a grown side to a
  * shuffle join is GOOD; a corpus-side SortMergeJoin appearing in the
  * dedup family is a regression.
  *
  * Usage: runMain graft.ScaleCheck <sfDir> <q1,q2,...>
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val names = args.lift(1).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q_join_multi", "q_dedup_bloom", "q_dedup_exact", "q_decontaminate"))
    val spark = LocalSession(LocalSession.cpus("32"))

    // untimed warm-up (the Bench pattern): the first query otherwise
    // absorbs ~8 s of JVM/codegen/parquet-footer startup and its secs
    // column is not comparable with the rest
    try SparkEntry.queries(names.head)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    names.foreach { name =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val rows = df.count() // result cardinality — superlinear growth here explains superlinear time
      df.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      // after execution the adaptive plan is final — walk it, counting
      // the physical operators that matter at scale
      val planStr = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      def count(marker: String): Int = planStr.sliding(marker.length).count(_ == marker)
      println("== " + name + " rows=" + rows + " secs=" +
        "%.1f".formatLocal(java.util.Locale.ROOT, secs) + " (build+count+noop-write)")
      println(s"   broadcastHashJoin=${count("BroadcastHashJoin")} " +
        s"sortMergeJoin=${count("SortMergeJoin")} shuffledHashJoin=${count("ShuffledHashJoin")} " +
        s"exchanges=${count("Exchange hashpartitioning") + count("Exchange rangepartitioning")} " +
        s"broadcastExchanges=${count("BroadcastExchange")} aqeShuffleReads=${count("AQEShuffleRead")}")
      if (sys.env.get("SPARK_GRAFT_FULL_PLAN").contains("1")) println(planStr)
    }
    spark.stop()
  }
}
