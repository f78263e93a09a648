package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered,
  * so counters read after a call include that call's jobs, stages and
  * query executions. The listener bus is Spark-internal; this shim is
  * the only reach into it. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
