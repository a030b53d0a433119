package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Process and host readings: CPU time, GC time, heap after GC, and the
  * host's steal time and load average (a contended host inflates every
  * timing; these flag such runs).
  */
object Host {
  /** Process CPU seconds, all threads. Time stolen from a virtual CPU by
    * its hypervisor is not charged to the process.
    */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Seconds the JIT compilers have spent, all threads. */
  def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** Classes Spark's code generator has compiled so far (cache misses). */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** (steal, total) jiffies of the aggregate `cpu` line of /proc/stat. */
  def stealJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal [guest guest_nice]
        // guest time is already included in user/nice
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  def loadAvg1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** MB of compiled code in the JIT's code cache, all segments. */
  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.NON_HEAP && p.getName.contains("Code"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  def heapMaxMb: Long = Runtime.getRuntime.maxMemory / (1024 * 1024)
}

/** One reading window over the host and process counters. */
final class HostWindow {
  private val cpu0 = Host.processCpuS()
  private val gc0 = Host.gcS()
  private val (steal0, total0) = Host.stealJiffies()
  val load1mStart: Double = Host.loadAvg1m()

  def cpuS: Double = Host.processCpuS() - cpu0
  def gcS: Double = Host.gcS() - gc0
  def stealFrac: Double = {
    val (s, t) = Host.stealJiffies()
    if (t - total0 <= 0) 0.0 else (s - steal0).toDouble / (t - total0)
  }
}

/** Heap occupancy right after each major (full) collection, from the
  * JVM's GC notifications. The benchmark forces a full collection
  * between passes, so every pass contributes at least one reading.
  */
final class HeapAfterGc {
  @volatile private var maxMajor = 0L
  @volatile private var maxAny = 0L
  @volatile private var windowAny = 0L
  @volatile private var on = false
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (on && n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if isHeapPool(pool) => u.getUsed
        }.sum
        maxAny = math.max(maxAny, used)
        windowAny = math.max(windowAny, used)
        if (info.getGcAction.contains("major")) maxMajor = math.max(maxMajor, used)
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private def isHeapPool(p: String) = heapPools.contains(p)
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  beans.foreach(_.addNotificationListener(listener, null, null))

  def start(): Unit = { maxMajor = 0L; maxAny = 0L; windowAny = 0L; on = true }
  /** Peak in MB after any GC since the last call (or start()). */
  def takeWindow(): Double = { val w = windowAny; windowAny = 0L; w / 1048576.0 }
  /** (after major GC, after any GC) peaks in MB since start(). */
  def stop(): (Double, Double) = {
    System.gc()
    Thread.sleep(50) // notifications arrive on a JMX thread
    on = false
    (maxMajor / 1048576.0, maxAny / 1048576.0)
  }
  def close(): Unit = beans.foreach(b => try b.removeNotificationListener(listener) catch { case _: Exception => () })
}
