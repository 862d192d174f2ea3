package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until the
  * listener bus has delivered every posted event, so counters read at a
  * pass boundary include that pass's last tasks. */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
