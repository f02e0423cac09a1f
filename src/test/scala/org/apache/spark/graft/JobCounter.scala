package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs of one job group that start while `body` runs.
  * The listener bus is `private[spark]`; draining it before and after
  * makes the count exact instead of racing the asynchronous events. */
object JobCounter {
  def apply(sc: SparkContext, group: String)(body: => Unit): Int = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** `body`'s value and the Spark jobs it starts, run under a fresh job
    * group on this thread (threads that capture its local properties
    * count too). */
  def counted[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"graft-counted-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group)
    try {
      var out: Option[T] = None
      val n = apply(sc, group) { out = Some(body) }
      (out.get, n)
    } finally sc.clearJobGroup()
  }
}
