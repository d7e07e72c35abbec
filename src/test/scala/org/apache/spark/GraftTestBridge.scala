package org.apache.spark

/** Test access to `private[spark]` listener-bus internals: specs that assert
  * on what a listener saw drain the bus first instead of sleeping. */
object GraftTestBridge {
  /** Block until every event posted so far reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
