package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * the traced run must see every job, stage and task event of a
  * statement before it closes the statement's span. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
