package org.apache.spark

/** The one package-private door the harness needs: block until every
  * listener event posted so far has been delivered, so per-query job and
  * stage records are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
