package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for every posted event to be delivered before it reads
  * its listeners, so each stretch of work (set-up, pass, check) sees exactly
  * its own events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
