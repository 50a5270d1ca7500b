package org.apache.spark

/** Lets the benchmark wait until every listener event already posted has
  * been delivered, so the traced counts are complete before they are read.
  * (`waitUntilEmpty` is package-private to Spark.)
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
