package org.apache.spark

/** The one `private[spark]` call the traced run needs: block until the
  * asynchronous listener bus has delivered every posted event, so the
  * span tree written at the end of a run holds every job, stage and task.
  * Attribution itself never depends on timing (see `graftbench.Tracer`).
  */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
