package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps package-private:
  * waiting until every posted listener event has been delivered, so a pass's
  * job and task records are complete before they are read. */
object PerfBenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
