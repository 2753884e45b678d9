package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners
  * (`listenerBus` is private[spark]), so a spec can read what its own
  * SparkListener saw. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
