package org.apache.spark

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: a test that counts events with its own listener waits
  * here until every event posted so far has been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
