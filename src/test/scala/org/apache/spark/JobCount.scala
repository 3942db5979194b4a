package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs one call submits: every job its thread starts
  * carries a tag unique to the call (SparkContext.addJobTag), and a
  * listener counts the tagged job starts once the listener bus has
  * delivered them. Jobs of other threads (a stream's micro-batches) are
  * not counted. `described` narrows the count to jobs whose description
  * it accepts (Spark's file listing describes its jobs "Listing leaf
  * files and directories …"). Lives in this package for the job-tag and
  * job-description property keys and the listener-bus drain. */
object JobCount {
  def of[A](sc: SparkContext, described: String => Boolean = _ => true)(f: => A): (A, Int) = {
    val tag = s"jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
            .exists(_.split(',').contains(tag)) &&
          described(Option(e.properties.getProperty(SparkContext.SPARK_JOB_DESCRIPTION)).getOrElse("")))
          jobs.incrementAndGet()
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
