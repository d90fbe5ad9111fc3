package org.apache.spark

/** Lives in Spark's package because the listener bus and the job-tag
  * property names are `private[spark]`.
  */
object BenchBus {

  /** Job property holding a job's tags, joined by [[JobTagsSep]]. */
  val JobTagsProperty: String = SparkContext.SPARK_JOB_TAGS
  val JobTagsSep: String = SparkContext.SPARK_JOB_TAGS_SEP

  /** Blocks until every event posted so far has been delivered to every
    * listener, so counters read afterwards include all finished stages and
    * tasks. A fixed sleep cannot promise that on a loaded host.
    */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
