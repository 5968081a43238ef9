package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not offer. Events reach
  * listeners asynchronously even in local mode, so counters read
  * without draining can miss the tail of a window.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
