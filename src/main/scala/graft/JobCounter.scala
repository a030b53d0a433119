package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Counts the Spark jobs, stages, tasks and spilled bytes that a block of
  * code runs, and times it: the jobs submitted from its thread, or from
  * any thread that carries its SparkContext local properties, and no one
  * else's.
  *
  * The listener bus delivers events asynchronously, so when the block
  * returns some of its jobs may not have reached a listener yet. The
  * counts are read only after a fence job, submitted after the block, has
  * been seen to end: the bus delivers events in order, so by then every
  * job the block started has been seen to start and, unless the block
  * left it running in the background (an error), to end.
  */
object JobCounter {
  final case class Counts(jobs: Int, stages: Int, tasks: Int, spillBytes: Long, seconds: Double)

  private val Key = "graft.jobCounter"
  private val SettleTimeoutS = 60L

  def apply[A](sc: SparkContext)(body: => A): (A, Counts) = {
    val tag = java.util.UUID.randomUUID.toString
    val jobs = ConcurrentHashMap.newKeySet[Int]()
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val ended = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val spill = new AtomicLong
    val fence = new AtomicInteger(-1)
    val fenceEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Key)).orNull match {
          case `tag` => jobs.add(e.jobId); e.stageIds.foreach(stageIds.add)
          case t if t == s"$tag/fence" => fence.set(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) ended.incrementAndGet()
        else if (e.jobId == fence.get) fenceEnded.countDown()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(e.stageInfo.stageId)) {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
          val m = e.stageInfo.taskMetrics
          if (m != null) spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
    }
    val prior = sc.getLocalProperty(Key)
    def tagged[B](t: String)(b: => B): B = {
      sc.setLocalProperty(Key, t)
      try b finally sc.setLocalProperty(Key, prior)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val result = tagged(tag)(body)
      val seconds = (System.nanoTime() - t0) / 1e9
      tagged(s"$tag/fence")(sc.parallelize(Seq(0), 1).count())
      require(fenceEnded.await(SettleTimeoutS, TimeUnit.SECONDS),
        s"listener bus did not deliver the fence job's end within $SettleTimeoutS s")
      require(ended.get == jobs.size,
        s"${jobs.size - ended.get} of ${jobs.size} counted jobs still running")
      (result, Counts(jobs.size, stages.get, tasks.get, spill.get, seconds))
    } finally sc.removeSparkListener(listener)
  }
}
