package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's view of a finished call is complete before it is read.
  * `listenerBus` is package-private to Spark, hence this package.
  */
object HashbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
