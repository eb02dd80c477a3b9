package org.apache.spark

/** Test access to the private listener bus: block until every event
  * posted so far has reached every listener, so a job counter reads the
  * jobs of the code that ran before it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
