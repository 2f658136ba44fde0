package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered, so a listener's counts are complete once an action returns.
  * Lives in this package because `SparkContext.listenerBus` is
  * `private[spark]`.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
