package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall time of `body` in ms, with its value. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** Bytes of every regular file under `dir`. */
  def diskBytes(dir: File): Long =
    if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.map(diskBytes).sum).getOrElse(0L)

  /** Deletes `f` and everything under it. */
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Regular files under `dir`. */
  def fileCount(dir: File): Long =
    if (dir.isFile) 1L
    else Option(dir.listFiles()).map(_.map(fileCount).sum).getOrElse(0L)

  /** JVM garbage-collection time so far, in ms; in local mode every Spark
    * thread runs in this JVM. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Heap in use after a full collection, in MB: what the run retains.
    * The pause between the two collections lets Spark's cleaner thread drop
    * what the first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
