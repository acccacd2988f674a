package org.apache.spark

/** The listener bus's drain call is package-private; the benchmark needs it
  * to read a traced operation's events before starting the next one. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
