package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains the listener bus so a traced op's events are all delivered before
  * the next op starts (`listenerBus` is private[spark]). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
