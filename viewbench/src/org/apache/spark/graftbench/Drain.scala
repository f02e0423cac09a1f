package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the traced run waits on it so
  * every job, stage, query and streaming event of the measured ops has
  * been delivered before the counters are read. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
