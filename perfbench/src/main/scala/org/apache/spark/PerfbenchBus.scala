package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * listener events are delivered asynchronously, so a recorder must wait
  * for the queue to empty before it reads what it collected. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
