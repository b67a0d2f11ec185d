package org.apache.spark

/** Lets the bench wait until every queued listener event has been delivered,
  * so a traced round's jobs and tasks are all recorded before it is analysed.
  * `SparkContext.listenerBus` is private to the `org.apache.spark` package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
