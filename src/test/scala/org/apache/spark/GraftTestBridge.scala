package org.apache.spark

/** Test access to the `private[spark]` listener bus. Lives in the
  * org.apache.spark package purely for access; no Spark internals are
  * modified.
  */
object GraftTestBridge {

  /** Blocks until every event posted so far has reached its listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
