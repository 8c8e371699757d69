package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark. Listener events
  * are delivered asynchronously; the tracer drains the bus before it reads
  * what its listeners collected for a span. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
