package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private:
  * `graft.SparkCounts` reads its listener's counts only after every
  * event has arrived.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
