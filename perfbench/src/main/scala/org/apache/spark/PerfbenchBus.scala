package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run must see every event of an operation before it closes
  * the operation's record.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
