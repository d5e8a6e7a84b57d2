package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until every
  * listener queue has delivered the events posted so far, so the counters
  * read after an op hold exactly that op's jobs, tasks and queries. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
