package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Machine readings recorded with every run, so an outlier can be
  * attributed to the machine rather than the code. */
object Env {

  def loadavg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** (busy, steal) jiffies from the aggregate line of /proc/stat:
    * busy = user + nice + system + irq + softirq. */
  def cpuJiffies(): (Double, Double) =
    try {
      val l = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      val v = l.trim.split("\\s+").drop(1).take(8).map(_.toDouble)
      (v(0) + v(1) + v(2) + v(5) + v(6), v(7))
    } catch { case _: Exception => (-1.0, -1.0) }

  /** Hypervisor steal as a percentage of busy + steal time between two
    * [[cpuJiffies]] readings (-1 when /proc/stat is unreadable). */
  def stealPct(before: (Double, Double), after: (Double, Double)): Double =
    if (before._1 < 0 || after._1 < 0) -1.0
    else {
      val busy = after._1 - before._1
      val steal = after._2 - before._2
      if (busy + steal <= 0) 0.0 else 100.0 * steal / (busy + steal)
    }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM process so far, in seconds. */
  def processCpuSeconds(): Double = os.getProcessCpuTime / 1e9
}
