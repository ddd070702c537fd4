package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test seam for pinning how many Spark jobs a block starts. The block
  * runs under a job group of its own, and only jobs carrying that group
  * count — the calling thread's, plus those Spark starts on its behalf
  * (broadcasts, subqueries inherit the caller's local properties). The
  * listener bus is drained before the count is read; `listenerBus` and
  * the job-group key are `private[spark]`, hence the package. */
object JobCounter {

  def jobs[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          started.incrementAndGet()
    }
    val outer = sc.getLocalProperty(SparkContext.SPARK_JOB_GROUP_ID)
    sc.addSparkListener(listener)
    sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, group)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, started.get)
    } finally {
      sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, outer)
      sc.removeSparkListener(listener)
    }
  }
}
