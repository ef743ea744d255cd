package org.apache.spark

/** The one Spark-internal call the benchmark makes: wait until every
  * listener has seen every event posted so far, so a traced op's job, task,
  * planning and progress records are complete before they are attributed.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
