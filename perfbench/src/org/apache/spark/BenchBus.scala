package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so an operation's job, stage and failure events are counted
  * before the next operation starts. The bus is package-private.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
