package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run drains
  * it at every op boundary so each op's jobs, tasks and executions are
  * attributed before the next op starts. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line shim. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
