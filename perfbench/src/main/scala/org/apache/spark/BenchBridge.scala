package org.apache.spark

/** The one package-private Spark hook the benchmark needs: block until
  * the listener bus has delivered every queued event, so listener
  * totals read after a workload cover all of its jobs. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
