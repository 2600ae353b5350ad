package graftbench

import java.io.File

object Util {

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def nowMs: Double = System.nanoTime() / 1e6

  /** (result, elapsed ms) */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Bytes this process has passed to write(2) and friends so far. */
  def wcharBytes(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try src.getLines().collectFirst {
      case l if l.startsWith("wchar:") => l.split(":")(1).trim.toLong
    }.getOrElse(0L)
    finally src.close()
  }

  /** Old-generation peak after collections, from the memory MXBeans. */
  def peakOldGenMb(): Double = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val peaks = pools.flatMap(p => Option(p.getCollectionUsage).map(_.getUsed))
    peaks.sum / (1024.0 * 1024.0)
  }
}
