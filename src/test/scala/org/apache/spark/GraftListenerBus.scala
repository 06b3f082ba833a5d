package org.apache.spark

/** Test-only visibility shim: `SparkContext.listenerBus` is
  * `private[spark]`, but a spec that counts jobs with a listener must see
  * every event posted so far — this drains the bus, nothing else. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
