package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the Spark listener bus, which is private to Spark. */
object ListenerBus {
  /** Returns once every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
