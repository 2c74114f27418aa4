package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Measurement-only bridge: drain the listener bus so a profiling
  * listener's counters are complete before they are read
  * (`listenerBus` is private[spark]). Used by [[graft.Profile]] and
  * [[graft.obs.StageMetrics]] after the measured work — never on a
  * query path. */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
