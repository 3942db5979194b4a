package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs one call submits: every job its thread starts
  * carries a tag unique to the call (SparkContext.addJobTag), and a
  * listener counts the tagged job starts once the listener bus has
  * delivered them. Jobs of other threads (a stream's micro-batches) are
  * not counted. Lives in this package for the job-tag property key and
  * the listener-bus drain. */
object JobCount {
  def of[A](sc: SparkContext)(f: => A): (A, Int) = {
    val tag = s"jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
            .exists(_.split(',').contains(tag))) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val a = f
      sc.listenerBus.waitUntilEmpty()
      (a, jobs.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
