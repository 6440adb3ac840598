package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not give: the harness drains
  * the bus at pass boundaries so every job, stage and query event of a
  * pass has reached its listeners before the pass's numbers are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
