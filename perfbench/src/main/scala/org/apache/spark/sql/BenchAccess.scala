package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution

/** Two engine internals the benchmark needs, reachable only from inside
  * Spark's package: draining the listener bus before the traced run
  * reads what its listeners recorded, and waiting for a streaming query
  * to commit a given source offset. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def awaitCommitted(q: StreamExecution, offset: Offset, timeoutMs: Long): Unit =
    q.awaitOffset(0, offset, timeoutMs)
}
