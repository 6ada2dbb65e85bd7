package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus to deliver
  * every event posted so far, so counters read after an operation include
  * that operation's jobs, tasks and query executions. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
