package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Host and JVM evidence sampled around the timed interval: /proc/stat
  * steal and busy shares, GC and JIT time, loaded classes and the heap left
  * after a full collection. */
object Host {

  /** Cumulative (steal, idle, total) jiffies of the aggregate cpu line. */
  final case class Stat(steal: Long, idle: Long, total: Long)

  def procStat(): Option[Stat] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      val idle = f(3) + (if (f.length > 4) f(4) else 0L) // idle + iowait
      val steal = if (f.length > 7) f(7) else 0L
      Stat(steal, idle, f.sum)
    } finally src.close()
  } catch { case _: Exception => None }

  /** (steal %, busy %) between two samples; zeros when /proc/stat is absent. */
  def shares(a: Option[Stat], b: Option[Stat]): (Double, Double) =
    (for (s0 <- a; s1 <- b if s1.total > s0.total) yield {
      val dt = (s1.total - s0.total).toDouble
      (100.0 * (s1.steal - s0.steal) / dt, 100.0 * (dt - (s1.idle - s0.idle)) / dt)
    }).getOrElse((0.0, 0.0))

  final case class Jvm(gcMs: Long, jitMs: Long, classes: Long)

  def jvm(): Jvm = Jvm(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L),
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)

  /** Heap in use right after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
