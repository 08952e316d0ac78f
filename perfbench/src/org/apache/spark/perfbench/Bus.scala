package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the live listener bus, which Spark keeps package-private:
  * the harness drains it at the end of every measured pass so listener
  * counters belong to the pass that produced them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
