package org.apache.spark

/** The listener bus is package-private to Spark; a traced run waits on it
  * so that every job, stage, task and execution event is recorded before
  * the run is written out.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
