package org.apache.spark

/** Deterministic listener capture: block until every event posted so far
  * has reached every listener, so an operation's job, stage and task
  * records are complete before the next operation starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
