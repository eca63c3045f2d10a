package org.apache.spark

/** Test-side access to `private[spark]` SparkContext internals. */
object GraftTestBridge {

  /** The local property key holding the current job group id. */
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID

  /** Block until every event posted so far has reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
