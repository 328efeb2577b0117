package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is internal to Spark; draining it lets the tracer read
  * an operation's events before the next operation starts.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
