package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * `listenerBus` is private to Spark, hence this accessor's package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
