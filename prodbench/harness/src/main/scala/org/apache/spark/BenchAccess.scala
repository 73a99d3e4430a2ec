package org.apache.spark

/** The one package-private hook the harness needs: wait until every
  * listener event posted so far has been delivered, so per-span counters
  * read right after an operation include all of its jobs and tasks.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
