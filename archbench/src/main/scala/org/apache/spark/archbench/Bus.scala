package org.apache.spark.archbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; counters are read only
  * after every event posted so far has been handled.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
