package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access bridge to Spark's listener bus, which is `private[spark]`:
  * blocks until every event posted so far has reached the listeners, so
  * the benchmark can read its counters at a span boundary and attribute
  * them to that span (the bus delivers events asynchronously).
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
