package org.apache.spark

/** Test access to the driver's listener bus, which is package-private. */
object TestBus {
  /** Blocks until every event posted so far has reached the listeners,
    * so that the status tracker reflects every job that has ended. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
