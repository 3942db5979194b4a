package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

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

  /** [[of]]'s job count, plus the SQL executions (a query's collect,
    * count or write, with or without a job) that `spark` reports to a
    * QueryExecutionListener while `f` runs. Executions are not filtered
    * by thread: run `f` while no other thread queries the session. */
  def withExecutions[A](spark: SparkSession)(f: => A): (A, Int, Int) = {
    val executions = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    // deliver earlier executions' events before the listener joins
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val (a, jobs) = of(spark.sparkContext)(f)
      (a, jobs, executions.get)
    } finally spark.listenerManager.unregister(listener)
  }
}
