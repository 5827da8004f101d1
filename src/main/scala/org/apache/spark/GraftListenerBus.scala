package org.apache.spark

/** Minimal bridge to the (private[spark]) listener bus: a deterministic
  * drain for measurement listeners. `Bench` attributes scheduler
  * counters (executor task time, shuffle bytes) to the run that just
  * finished; the bus delivers events asynchronously, so a fixed sleep
  * either wastes time or (under load) silently attributes a run's
  * stages to the next one (ADVICE r17). `waitUntilEmpty` blocks until
  * every queued event is delivered or the timeout passes. */
object GraftListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
