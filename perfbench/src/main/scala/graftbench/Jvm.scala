package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

object Jvm {
  /** Process start, epoch microseconds. */
  def startUs: Long = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

  /** Total collection time over every collector, milliseconds. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Live heap after forced full collections, MiB. Spark frees blocks
    * and broadcasts of collected plans asynchronously (its context
    * cleaner runs on weak-reference events), so collect until the
    * reading stops falling, at most five times, and keep the least. */
  def retainedHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var best = used()
    var i = 1
    var next = used()
    while (i < 5 && next < best * 0.99) { best = next; next = used(); i += 1 }
    best min next
  }
}
