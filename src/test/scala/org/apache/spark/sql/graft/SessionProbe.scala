package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Test access to session internals that Spark keeps `private[spark]`:
  * long-session checks read these before and after a run of commits. */
object SessionProbe {
  /** listeners registered on the shared listener bus */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size()

  /** block until every event posted so far reached its listeners */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
