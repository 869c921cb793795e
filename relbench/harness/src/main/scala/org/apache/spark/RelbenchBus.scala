package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the harness drains before reading its listener, so every task of a
  * finished action is attributed to the span that ran it.
  */
object RelbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
