package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so span
  * attribution never reads a half-filled record.
  */
object PerfShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
