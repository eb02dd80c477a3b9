package org.apache.spark

/** The listener bus is package-private. Waiting until it is empty makes
  * every event posted so far reach the listeners: the traced run does so
  * at each operation boundary, so that job, task and plan events are
  * attributed to the operation that caused them, and the lake workload
  * does so before it reads a phase's progress events.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
