package org.apache.spark

/** Drains Spark's asynchronous listener bus. The bus is `private[spark]`,
  * so this one call lives in Spark's package; the benchmark calls it before
  * it reads any listener-fed counter, so events are never lost to a race. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
