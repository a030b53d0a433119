package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, max, sum}

import scala.collection.mutable

/** The host's speed during a run, read from a fixed control job.
  *
  * The benchmark runs on a shared host whose speed drifts by tens of
  * percent over minutes: other guests' load shows as steal time and as
  * slower caches and memory. Between runs of the same code taken a
  * minute apart, a run's wall-clock timings moved by up to 1.5x and its
  * CPU time by up to 1.2x, far more than the benchmark's bounds. The
  * wall-clock timings of a run, set-up included, are therefore reported
  * at a reference speed: divided by the run's median control-job time
  * over `refWallS`, the control job's median time on a quiet host. A
  * workload may scale CPU time likewise, by the control job's mean CPU
  * time over `refCpuS`. The raw timings stay in the run record.
  *
  * The control job is plain Spark over `spark.range`, on the run's own
  * session: it uses neither the program's code nor its data, so a change
  * to the program moves the workload's timings and not the control
  * job's. It runs only while the program is idle: between batch queries,
  * and in the streaming workload between phases, at moments when no rule
  * is running a trigger.
  */
final class HostSpeed(spark: SparkSession, refWallS: Double, refCpuS: Option[Double] = None) {
  private val wall = mutable.ArrayBuffer.empty[Double]
  private val cpu = mutable.ArrayBuffer.empty[Double]

  /** Untimed runs of the control job while the JIT compiles it. */
  def warm(): Unit = (1 to HostSpeed.WarmRuns).foreach(_ => HostSpeed.controlJob(spark))

  /** One timed run of the control job; returns its wall seconds. */
  def sample(): Double = {
    val c0 = Host.processCpuS()
    val t0 = System.nanoTime()
    HostSpeed.controlJob(spark)
    val dt = (System.nanoTime() - t0) / 1e9
    wall += dt
    cpu += Host.processCpuS() - c0
    dt
  }

  def wallS: Double = Stats.median(wall.toSeq)
  /** A mean: process CPU time is read in 10 ms steps. */
  def cpuS: Double = Stats.mean(cpu.toSeq)

  /** How much slower than the reference the host ran: 1.2 means 20%. */
  def factor: Double = if (wall.isEmpty) 1.0 else wallS / refWallS
  /** The same for CPU time, where the workload has a CPU reference. */
  def cpuFactor: Option[Double] = refCpuS.filter(_ => cpu.nonEmpty).map(cpuS / _)

  def record: Map[String, Any] = Map(
    "control_wall_s" -> wall.toSeq, "control_cpu_s" -> cpu.toSeq, "factor" -> factor,
    "cpu_factor" -> cpuFactor, "ref_wall_s" -> refWallS, "ref_cpu_s" -> refCpuS)
}

object HostSpeed {
  val WarmRuns = 4

  /** Hash aggregation over an exchange, on the session's cores. */
  def controlJob(spark: SparkSession): Unit =
    spark.range(0L, 300000L, 1L, 2)
      .select((col("id") % 1009).as("k"), (col("id") * 7919L % 1000003L).as("v"))
      .groupBy("k").agg(sum("v"), max("v"), count("v"))
      .write.format("noop").mode("overwrite").save()
}
