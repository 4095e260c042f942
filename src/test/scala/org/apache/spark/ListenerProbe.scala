package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface

/** Lists the listeners of one class registered on a context's listener
  * bus, and waits for that bus to deliver every queued event; both calls
  * are private to the `org.apache.spark` package.
  */
object ListenerProbe {
  def registered[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
