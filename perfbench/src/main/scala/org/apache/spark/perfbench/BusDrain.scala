package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this bridge lets the benchmark
  * wait until every posted event has reached its listeners before it reads
  * their counters (the same package trick as the program's
  * `org.apache.spark.sql` bridges). */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
