package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host and JVM health, read from outside the program. */
object Host {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU seconds so far, all threads. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def loadAvg(): Double = os.getSystemLoadAverage

  def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def classesLoaded(): Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** (steal, total) CPU ticks of the whole host from `/proc/stat`, or zeros
    * where it is unreadable. Steal is time a virtual CPU was ready but the
    * hypervisor ran someone else: a busy neighbour, not a slow program. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Share of host CPU time stolen between two [[cpuTicks]] readings. */
  def stealRatio(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2) (to._1 - from._1).toDouble / (to._2 - from._2) else 0.0

  /** Fixed-work CPU canary in the shape of the project's epoch canary: a
    * single-threaded MD5 pass over text, 64 MiB per round; the fastest of
    * three rounds, in seconds. A throttled or contended host reads slow
    * here whatever the program does. */
  def canary(): Double = {
    val block = ("the quick brown fox jumps over the lazy dog " * 100)
      .getBytes("UTF-8").take(4096)
    (1 to 3).map { _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val t0 = System.nanoTime()
      var i = 0
      while (i < 16384) { md.update(block); i += 1 }
      md.digest()
      (System.nanoTime() - t0) / 1e9
    }.min
  }
}
