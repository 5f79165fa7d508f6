package org.apache.spark

/** Lets the benchmark wait for the listener bus to deliver every event of
  * the jobs it just ran before it reads its listener's counters. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
