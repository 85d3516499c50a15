package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Test access to the listener bus, which is private to Spark. */
object Bus {
  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
