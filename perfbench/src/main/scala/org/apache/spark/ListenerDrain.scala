package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * Spark delivers listener events on its own thread; the tracer drains
  * the bus at each span boundary so that each span's jobs, tasks and
  * query executions are counted before the next span starts. Lives in
  * `org.apache.spark` because the bus is package-private. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
