package org.apache.spark

/** Test access to Spark's package-private listener bus: returns once every
  * event posted so far has reached every listener, so a spec can count
  * jobs exactly instead of waiting on a quiet window. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
