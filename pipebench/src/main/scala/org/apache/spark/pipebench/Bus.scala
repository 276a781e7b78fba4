package org.apache.spark.pipebench

import org.apache.spark.SparkContext

/** Reach Spark's `private[spark]` listener bus, so a traced day can wait
  * until every job, task and query event of that day has been delivered
  * before the listeners are detached. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
