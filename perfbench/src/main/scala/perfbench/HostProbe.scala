package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host and JVM readings taken around a run.
  *
  * The co-tenancy probe is the one `graft.Bench` uses, copied so the
  * benchmark does not depend on that object's private helpers: over a
  * window it yields `(loadavg1, other_busy_frac, steal_frac)`, where
  * other_busy_frac is host busy jiffies minus this JVM's own
  * utime+stime over total jiffies (the share of the box other processes
  * used) and steal_frac is the hypervisor's steal share. Reads are best
  * effort: a parse failure yields -1 markers rather than failing a run.
  */
object HostProbe {
  private def hostJiffies(): (Long, Long, Long) = {
    // /proc/stat first line: cpu user nice system idle iowait irq softirq steal ...
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
    val total = f.sum
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    val steal = if (f.length > 7) f(7) else 0L
    (total - idle, total, steal)
  }

  private def selfJiffies(): Long = {
    // utime/stime are fields 14/15; the token after the ')' that ends
    // comm is field 3, so utime is index 11 of the rest
    val src = scala.io.Source.fromFile("/proc/self/stat")
    val s = try src.mkString finally src.close()
    val rest = s.substring(s.lastIndexOf(')') + 2).trim.split("\\s+")
    rest(11).toLong + rest(12).toLong
  }

  private def loadavg1(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  }

  final case class Snap(busy: Long, total: Long, steal: Long, self: Long)

  def snap(): Snap =
    try { val (b, t, st) = hostJiffies(); Snap(b, t, st, selfJiffies()) }
    catch { case _: Exception => Snap(-1L, -1L, -1L, -1L) }

  /** `(loadavg1, other_busy_frac, steal_frac)` since `before`. */
  def since(before: Snap): (Double, Double, Double) =
    try {
      val after = snap()
      if (before.total < 0 || after.total < 0) (-1.0, -1.0, -1.0)
      else {
        val dTotal = math.max(1L, after.total - before.total).toDouble
        val dBusy = (after.busy - before.busy).toDouble
        val dSelf = (after.self - before.self).toDouble
        val dSteal = (after.steal - before.steal).toDouble
        (loadavg1(),
          math.max(0.0, (dBusy - dSelf) / dTotal),
          math.max(0.0, dSteal / dTotal))
      }
    } catch { case _: Exception => (-1.0, -1.0, -1.0) }

  /** Peak resident set of this JVM (`VmHWM`), in MiB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  /** Total collection time of every garbage collector so far, in ms. */
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Sum of the heap pools' peak usage since the last reset, in MiB. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
}
