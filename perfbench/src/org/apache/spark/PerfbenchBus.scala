package org.apache.spark

/** Listener events reach listeners asynchronously. The benchmark must see
  * every job, stage and task record of an action before it reads them, and
  * the bus's drain call is package-private, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
