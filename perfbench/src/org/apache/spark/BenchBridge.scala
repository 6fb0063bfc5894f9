package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: block until
  * every queued listener event has been delivered, so counts read at a
  * span's end include all jobs, tasks and query executions that ran
  * inside it.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
