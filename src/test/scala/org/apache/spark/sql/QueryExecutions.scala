package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** Test bridge: the executed plan of every query execution `body` runs, as
  * the session's `QueryExecutionListener`s see them. Listener events arrive
  * on the bus asynchronously, so the bus is drained (a `private[spark]`
  * call) before the listener is removed.
  */
object QueryExecutions {
  def plans(spark: SparkSession)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan.toString): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe.executedPlan.toString): Unit
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.sparkContext.listenerBus.waitUntilEmpty()
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }
}
