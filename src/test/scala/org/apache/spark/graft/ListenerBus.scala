package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark's listener bus is package-private; specs that count jobs or
  * stages drain it so every event posted so far has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
