package org.apache.spark

/** The two driver internals the journey tracer reads: the job-tag property
  * key and a way to wait until every queued listener event was delivered. */
object JourneyBridge {
  val JobTagsKey: String = SparkContext.SPARK_JOB_TAGS

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
