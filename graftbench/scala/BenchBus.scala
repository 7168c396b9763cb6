package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the tracer waits for every queued event before it unregisters. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
