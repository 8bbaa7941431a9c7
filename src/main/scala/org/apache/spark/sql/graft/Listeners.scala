package org.apache.spark.sql.graft

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** The listener-bus calls Spark keeps package-private. */
object Listeners {

  /** Listeners of class `T` already on the context's bus. */
  def installed[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()

  /** Returns once every event posted so far has been delivered, or when
    * the bus's timeout expires: a measurement must never fail the run it
    * measures.
    */
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty() catch { case _: java.util.concurrent.TimeoutException => () }
}
