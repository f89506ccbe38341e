package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the one package-private Spark hook the traced run needs. */
object Bridge {
  /** Block until every queued listener event has been delivered, so the
    * counters read after an op include all of that op's jobs and tasks. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
