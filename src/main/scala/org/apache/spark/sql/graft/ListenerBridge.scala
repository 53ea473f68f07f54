package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: `graft.QueryProfile` drains
  * it on both sides of a profiled block, so no earlier work's stage events
  * leak into the profile and none of the block's own are still queued when
  * it is read (a `Thread.sleep` could do neither).
  */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
