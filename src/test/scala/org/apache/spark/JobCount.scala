package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches: a listener keeps the jobs of a
  * job group set for the block, and the listener bus is drained
  * (`private[spark]`, hence this package) before the count is read, so
  * no job-start event is still queued.
  */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
