package org.apache.spark

/** Lets the harness wait for Spark's asynchronous listener bus, whose
  * drain call is private to the `org.apache.spark` package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
