package org.apache.spark

/** The package-private Spark member the specs read, which is why this
  * lives in Spark's package. */
object GraftTestAccess {

  /** Waits until every listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
