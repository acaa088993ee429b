package org.apache.spark

/** The one private-to-Spark call the benchmark needs: block until every
  * listener event posted so far has been delivered, so a phase's job and
  * task totals are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
