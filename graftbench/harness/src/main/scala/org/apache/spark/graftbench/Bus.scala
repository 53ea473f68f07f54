package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; the benchmark drains it before it
  * reads what its listeners recorded, so no event of a measured window is
  * lost or left to the next one.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
