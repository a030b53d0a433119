package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Work Spark did for one phase: jobs, completed stage attempts, their
  * tasks, busy task time, shuffle and spill bytes.
  */
final case class PhaseCounts(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                             taskBusyS: Double = 0.0, shuffleReadBytes: Long = 0L,
                             shuffleWriteBytes: Long = 0L, spillBytes: Long = 0L) {
  def +(o: PhaseCounts): PhaseCounts = PhaseCounts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskBusyS + o.taskBusyS, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
}

/** Operator counts of an executed (final adaptive) plan. */
final case class PlanCounts(scans: Int = 0, exchanges: Int = 0, reusedExchanges: Int = 0) {
  def +(o: PlanCounts): PlanCounts =
    PlanCounts(scans + o.scans, exchanges + o.exchanges, reusedExchanges + o.reusedExchanges)
}

object PlanCounts extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): PlanCounts = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    PlanCounts(
      scans = nodes.count {
        case _: DataSourceScanExec | _: BatchScanExec => true
        case _ => false
      },
      exchanges = nodes.count(_.isInstanceOf[Exchange]),
      reusedExchanges = nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }
}

/** Attributes Spark jobs to named phases (e.g. "q_agg/construct").
  *
  * The driver thread tags its jobs with the phase while the phase runs.
  * A job without the tag (started from a thread that did not inherit
  * it, such as a pooled trainer thread) is attributed by its submission
  * time to the phase whose window contains it. Counts are read only
  * after the listener bus has drained, so events still queued when an
  * action returns are not lost.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val TagPrefix = "perfbench:"

  private final case class JobRec(id: Int, submitMs: Long, tag: Option[String], stageIds: Seq[Int])
  private final case class StageRec(stageId: Int, tasks: Int, busyMs: Long, shRead: Long,
                                    shWrite: Long, spill: Long)

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val qes = new ConcurrentLinkedQueue[QueryExecution]()
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = qes.add(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(this)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(',')).filter(_.startsWith(TagPrefix))
    jobs.add(JobRec(e.jobId, e.time, tags.headOption.map(_.stripPrefix(TagPrefix)), e.stageIds))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(StageRec(i.stageId, i.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Run `body` as phase `key`; its jobs carry the phase tag. */
  def phase[T](key: String)(body: => T): T = {
    val tag = TagPrefix + key.replace(',', ';')
    sc.addJobTag(tag)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.removeJobTag(tag)
      windows.synchronized(windows += ((key, t0, t1)))
    }
  }

  def drain(): Unit = PerfbenchBridge.drainListenerBus(sc)

  /** Drain the bus, then return and forget the counts per phase and the
    * query executions that finished since the last call (in order).
    */
  def collect(): (Map[String, PhaseCounts], Seq[QueryExecution]) = {
    drain()
    val ws = windows.synchronized { val w = windows.toList; windows.clear(); w }
    def phaseOf(j: JobRec): String = j.tag.getOrElse(
      ws.find { case (_, a, b) => j.submitMs >= a && j.submitMs <= b }.map(_._1).getOrElse("unattributed"))
    val js = Iterator.continually(jobs.poll()).takeWhile(_ != null).toList
    val ss = Iterator.continually(stages.poll()).takeWhile(_ != null).toList
    val q = Iterator.continually(qes.poll()).takeWhile(_ != null).toList
    val jobPhase = js.map(j => j.id -> phaseOf(j)).toMap
    val byJob = js.groupBy(phaseOf).view.mapValues(l => PhaseCounts(jobs = l.size)).toMap
    val byStage = ss.groupBy(s => Option(stageJob.get(s.stageId)).flatMap(jobPhase.get)
      .getOrElse("unattributed")).view.mapValues { l =>
      PhaseCounts(stages = l.size, tasks = l.map(_.tasks).sum,
        taskBusyS = l.map(_.busyMs).sum / 1000.0, shuffleReadBytes = l.map(_.shRead).sum,
        shuffleWriteBytes = l.map(_.shWrite).sum, spillBytes = l.map(_.spill).sum)
    }.toMap
    val counts = (byJob.keySet ++ byStage.keySet).map { k =>
      k -> (byJob.getOrElse(k, PhaseCounts()) + byStage.getOrElse(k, PhaseCounts()))
    }.toMap
    (counts, q)
  }
}
