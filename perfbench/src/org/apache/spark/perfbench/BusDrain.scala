package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  * The listener bus is asynchronous; the traced run calls this at the
  * end of each span so the span's jobs, tasks and planning phases are
  * all counted before its totals are read. Lives under
  * `org.apache.spark` because the bus is `private[spark]`.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
