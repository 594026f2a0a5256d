package org.apache.spark

/** The one package-private hook the harness needs: wait until every
  * listener event posted so far has been delivered, so a pass's trace
  * is complete before it is read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
