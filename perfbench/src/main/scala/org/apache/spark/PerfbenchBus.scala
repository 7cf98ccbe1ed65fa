package org.apache.spark

/** The one Spark-private call the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so the
  * ledger's counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
