package org.apache.spark.geobenchbridge

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run drains it after
  * each op so that every event of the op's jobs is counted for that op. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
