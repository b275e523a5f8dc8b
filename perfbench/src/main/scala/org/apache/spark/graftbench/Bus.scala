package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private.
  * The benchmark reads its listener counts only after every posted event
  * has been delivered, so a late task-end event can never be lost. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
