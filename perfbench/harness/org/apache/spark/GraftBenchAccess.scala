package org.apache.spark

/** The one package-private hook the benchmark needs: listener events
  * arrive asynchronously, so the tracer drains the bus before it reads
  * what its listener attributed to the spans that just closed. */
object GraftBenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
