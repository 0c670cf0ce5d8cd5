package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * counters read from a listener are complete only after every event that
  * the finished jobs posted has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
