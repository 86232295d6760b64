package org.apache.spark

/** Access shim for `private[spark]` SparkContext.listenerBus. Its one
  * caller, graft.QueryTrace, drains the async bus after its body returns,
  * so the trace holds every event of the body (Spark's own test idiom). */
object GraftListenerShims {
  def waitListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
