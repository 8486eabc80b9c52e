package crawlbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Clocks, order statistics and the JVM-side gauges of one run. */
object Measure {

  def now(): Long = System.nanoTime()

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = now()
    val r = f
    (r, secondsSince(t0))
  }

  /** Median by the midpoint rule (the mean of the two middle values of
    * an even-sized sample).
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total GC pause time of this JVM so far, in seconds. In local mode
    * the whole application shares one JVM, so this is the collector
    * time every task and the scheduling thread waited for.
    */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Live heap in MiB: heap in use right after a full collection, once
    * collections stop freeing memory. Spark's cleaner releases what the
    * program already dropped (shuffles, broadcasts, unpersisted blocks)
    * on its own thread only after a collection finds them unreachable,
    * so one collection is not enough: collect, give the cleaner time,
    * and repeat until a round frees less than 1 MiB (at most 20
    * rounds). Stop-the-world, so callers keep it out of timed regions.
    */
  def liveHeapMb(): Double = {
    def usedAfterGc(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble / (1024 * 1024)
    }
    var prev = usedAfterGc()
    Thread.sleep(200)
    var cur = usedAfterGc()
    var rounds = 1
    while (prev - cur >= 1.0 && rounds < 20) {
      prev = cur
      Thread.sleep(200)
      cur = usedAfterGc()
      rounds += 1
    }
    cur
  }
}
