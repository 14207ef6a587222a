package org.apache.spark.graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side half of the traced run: a SparkListener for jobs, tasks
  * and SQL executions, and a QueryExecutionListener for Catalyst phase
  * times. Every event keeps its own wall-clock timestamp (epoch ms), so
  * the caller attributes it to the operation whose window contains it
  * instead of blocking on the listener bus after every call.
  *
  * Lives in an `org.apache.spark` package only to reach the listener
  * bus's drain, which the traced run calls before it stops listening. */
final class Recorder(spark: SparkSession) {

  /** (jobId, startMs, endMs); endMs is -1 until the job ends. */
  val jobs = new ConcurrentLinkedQueue[(Int, Long)]()
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  /** (stageId, attempt, launchMs, finishMs, shuffleWriteBytes, shuffleReadBytes) */
  val tasks = new ConcurrentLinkedQueue[(Int, Int, Long, Long, Long, Long)]()
  /** SQL execution start times (ms). */
  val executions = new ConcurrentLinkedQueue[Long]()
  /** (analysisStartMs, analysisMs, optimizationMs, planningMs) */
  val phases = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add((e.jobId, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add((e.jobId, e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val (w, r) =
        if (m == null) (0L, 0L)
        else (m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead)
      tasks.add((e.stageId, e.stageAttemptId, e.taskInfo.launchTime, e.taskInfo.finishTime, w, r))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executions.add(s.time)
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.get("analysis").orElse(ph.values.headOption).map(_.startTimeMs)
        .getOrElse(System.currentTimeMillis())
      phases.add((start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private var on = false

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Deliver everything already posted, then stop listening. */
  def stop(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  def jobIntervals: Seq[(Int, Long, Long)] = {
    val ends = jobEnds.asScala.toMap
    jobs.asScala.toSeq.flatMap { case (id, s) => ends.get(id).map(e => (id, s, e)) }
  }
}
