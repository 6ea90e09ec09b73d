package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

import scala.reflect.ClassTag

/** The two listener-bus calls the harness needs that Spark keeps
  * package-private: draining the bus so a pass's events are all delivered
  * before its counters are read, and finding listeners a pass registered
  * but never removed.
  */
object BusAccess {

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def listenersOf[T <: SparkListenerInterface: ClassTag](
      sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]().toSeq
}
