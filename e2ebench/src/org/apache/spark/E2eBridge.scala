package org.apache.spark

/** Access to the listener bus drain, which Spark keeps `private[spark]`:
  * the traced run waits for every listener event of an operation to be
  * delivered before it reads the counters or removes its listeners.
  */
object E2eBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
