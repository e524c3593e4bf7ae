package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private:
  * counts read from a listener are only complete once every event posted
  * before the read has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
