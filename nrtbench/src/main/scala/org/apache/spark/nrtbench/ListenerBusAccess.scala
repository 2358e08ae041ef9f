package org.apache.spark.nrtbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run's
  * report must wait until every job, query and progress event of the run
  * has reached the benchmark's listeners. The wait is Spark-internal, so
  * it is reached from this package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
