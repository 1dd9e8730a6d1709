package org.apache.spark

/** The one private Spark call the benchmark needs: block until the
  * listener bus has delivered every queued event, so the traced run's
  * job and task records are complete before they are summed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
