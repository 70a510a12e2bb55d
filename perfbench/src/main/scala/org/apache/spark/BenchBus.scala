package org.apache.spark

/** Access to Spark's `private[spark]` listener bus: the tracer waits for
  * every queued job and task event before it reads its records. Lives in
  * org.apache.spark purely for access.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
