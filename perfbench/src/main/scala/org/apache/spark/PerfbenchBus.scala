package org.apache.spark

/** Listener events reach listeners asynchronously. The benchmark drains the
  * bus before it reads what its listeners recorded for a pass, so no event of
  * that pass is still queued. `listenerBus` is package-private, hence this
  * one-line accessor in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
