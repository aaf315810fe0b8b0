package enginebench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile that has at least ten samples beyond it: the
    * value of the 11th-largest sample, with its percentile rank and the
    * sample count. Samples are too few for a tail when fewer than 11.
    */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    if (s.size < 11) (s.lastOption.getOrElse(0.0), 100, s.size)
    else (s(s.size - 11), ((s.size - 10) * 100) / s.size, s.size)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Heap {
  /** Heap still live after a full collection, in MB. */
  def liveMb(): Double = {
    // a collection enqueues Spark's weak references; its cleaner then
    // drops the blocks they held, which the next collection frees
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Time the JVM's collectors have spent so far, in ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
