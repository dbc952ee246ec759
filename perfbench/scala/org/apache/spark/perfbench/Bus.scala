package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: a listener may see a job's last task
  * end after the action returned. `listenerBus.waitUntilEmpty()` is the only
  * exact drain, and it is private to the `org.apache.spark` package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
