package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Specs that count listener events must drain the asynchronous listener
  * bus first; `waitUntilEmpty` is package-private to Spark, hence this
  * one-line shim. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
