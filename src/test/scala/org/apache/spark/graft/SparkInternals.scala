package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Test access to Spark internals the plan-contract specs measure
  * through. */
object SparkInternals {
  /** Wait until every posted listener event (query-execution callbacks
    * included) has been delivered, so a listener's counters are
    * complete when read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Empty the JVM-wide cache of compiled generated classes, so the
    * next queries compile every class they need. */
  def clearCodegenCache(): Unit = {
    val field = CodeGenerator.getClass.getDeclaredField("cache")
    field.setAccessible(true)
    field.get(CodeGenerator).asInstanceOf[org.apache.spark.util.NonFateSharingCache[_, _]]
      .invalidateAll()
  }
}
