package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge into Spark's `private[spark]` listener bus. Spark delivers
  * listener events asynchronously; `drain` blocks until every queued
  * event has reached every listener, so counters reset or read right
  * after it hold exactly the jobs that have finished — no late events
  * from an earlier window, none missing from this one. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
