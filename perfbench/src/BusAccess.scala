package org.apache.spark

/** Listener events reach listeners asynchronously; the per-pass counters
  * are read only after the bus has delivered every event of the pass.
  * `listenerBus` is package-private, hence this file's package.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
