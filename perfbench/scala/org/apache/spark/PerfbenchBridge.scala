package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run waits for it after each operation, outside the timed
  * region, so every job, stage, task and plan event of the operation has
  * been delivered before the next operation starts. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
