package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Listener counters of one span: one public call of the program. */
final class SpanCounters {
  var catalystMs = 0L
  var queries = 0
  var execCpuNs = 0L
  var execRunMs = 0L
  var tasks = 0L
  var maxTaskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var stages = 0
  var jobs = 0
}

/** The benchmark's trace: a SparkListener for tasks, stages and jobs and a
  * QueryExecutionListener for the planning phases. Every call runs under
  * its own job group; stages are attributed to the span through the
  * group their job was submitted under. Query-planning events carry no
  * group, so they go to the span open when they are delivered: `close`
  * drains the listener bus before the span ends.
  */
final class Trace(spark: SparkSession) {
  private val byGroup = mutable.Map.empty[String, SpanCounters]
  private val stageGroup = mutable.Map.empty[Int, String]
  @volatile private var open: String = null

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new SpanCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          counters(g).jobs += 1
          e.stageIds.foreach(id => stageGroup(id) = g)
        }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(g => counters(g).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val c = counters(g)
        c.tasks += 1
        c.maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration)
        Option(e.taskMetrics).foreach { m =>
          c.execCpuNs += m.executorCpuTime
          c.execRunMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val g = open
      if (g != null) {
        val c = counters(g)
        c.queries += 1
        c.catalystMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def openSpan(group: String): Unit = synchronized { open = group }

  /** Ends the span: waits for its events, then hands back its counters. */
  def close(group: String): SpanCounters = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized {
      open = null
      byGroup.remove(group).getOrElse(new SpanCounters)
    }
  }
}
