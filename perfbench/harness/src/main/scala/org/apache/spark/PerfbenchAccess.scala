package org.apache.spark

/** The one `private[spark]` call the harness needs: wait until every event
  * posted so far has reached the listeners, so a step's job, task and block
  * counts are complete before the step's numbers are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
