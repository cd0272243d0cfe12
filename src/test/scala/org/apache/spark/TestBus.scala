package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * waits until every posted event has reached the listeners, so a spec
  * that counts jobs reads them all. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
