package org.apache.spark

/** Lets the benchmark's traced run wait until every listener event posted so
  * far has been delivered, before it reads its aggregates. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
