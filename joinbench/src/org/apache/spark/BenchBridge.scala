package org.apache.spark

/** The one package-private hook the bench needs: wait for the listener
  * bus, so counts read at the end of a traced run are complete.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
