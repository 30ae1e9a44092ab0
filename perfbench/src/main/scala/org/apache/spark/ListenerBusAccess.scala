package org.apache.spark

/** Listener events arrive asynchronously; a trace read right after a
  * call must first wait for the bus to deliver everything posted so
  * far. The bus is Spark-private, hence this package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
