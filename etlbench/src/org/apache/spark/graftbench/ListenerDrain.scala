package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every queued event, so
  * the benchmark's tracer sees each job and task of an op before it reads
  * them. The bus is `private[spark]`, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
