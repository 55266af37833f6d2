package org.apache.spark

import scala.reflect.ClassTag
import org.apache.spark.scheduler.SparkListenerInterface

/** Bridge into a SparkContext's `private[spark]` listener bus, the
  * `org.apache.spark.sql.GraftShim` pattern one package up: look up an
  * installed listener by class, and wait until every event posted so far
  * has reached its listeners. Calls forward verbatim.
  */
object GraftListenerBus {
  def find[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Option[T] =
    sc.listenerBus.findListenersByClass[T]().headOption

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
