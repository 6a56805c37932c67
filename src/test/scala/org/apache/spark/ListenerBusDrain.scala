package org.apache.spark

/** Listener events reach listeners asynchronously; a spec that counts what a
  * SparkListener saw drains the bus first. `listenerBus` is package-private,
  * hence this accessor in Spark's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
