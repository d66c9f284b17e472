package org.apache.spark

/** Blocks until every posted listener event has been delivered, so span
  * accounting read after an operation sees all of that operation's jobs.
  * The bus is private to Spark, hence this package. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
