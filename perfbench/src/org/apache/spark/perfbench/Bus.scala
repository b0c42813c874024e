package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run reads an operation's events only after every event
  * posted during it has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
