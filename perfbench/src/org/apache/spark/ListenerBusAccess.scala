package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus to
  * deliver every queued event before it reads listener counts. Lives
  * in `org.apache.spark` only because the bus is `private[spark]`. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
