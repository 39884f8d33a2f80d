package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the tracer waits for every posted event before reading its counters. */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
