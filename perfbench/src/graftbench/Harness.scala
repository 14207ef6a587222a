package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.Recorder
import org.apache.spark.sql.SparkSession

/** One timed operation. A failed operation keeps its record (it counts as
  * attempted and failed) but its time is never used as a latency. */
final case class Op(id: Int, kind: String, cls: String, pass: Int,
    startMs: Long, endMs: Long, seconds: Double, ok: Boolean, traced: Boolean)

/** A call into one layer, nested under its operation's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Long, endMs: Long, seconds: Double)

/** The single-client closed loop: times operations, counts failures, and in
  * traced passes records spans and listener events. Outside traced passes
  * `span` is a plain call, so untraced timings carry no tracing cost. */
final class Harness(val spark: SparkSession, traceMode: Boolean) {
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  /** Small per-operation results the output checks compare: (op, json). */
  val digests = ArrayBuffer.empty[(Int, String)]
  /** Untimed per-operation counts gathered in traced passes: (op, name, value). */
  val facts = ArrayBuffer.empty[(Int, String, Double)]
  val recorder: Option[Recorder] = if (traceMode) Some(new Recorder(spark)) else None
  val errors = ArrayBuffer.empty[String]

  private var tracing = false
  private var stack = List.empty[Int]
  private var curOp = -1

  def traced: Boolean = tracing

  /** Trace the passes that follow (traced runs only). */
  def setTracing(on: Boolean): Unit = recorder.foreach { r =>
    if (on) r.start() else r.stop()
    tracing = on
  }

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = spans.size
      spans += null // reserve the id; filled in when the call returns
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, curOp, name, s, System.currentTimeMillis(),
          (System.nanoTime() - n0) / 1e9)
        stack = stack.tail
      }
    }

  /** Run and time one operation; returns None if it threw. */
  def op[T](kind: String, cls: String, pass: Int)(body: => T): Option[T] = {
    val id = ops.size
    curOp = id
    val s = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r =
      try Some(span(s"op.$kind")(body))
      catch {
        case e: Throwable =>
          if (errors.size < 20) errors += s"$kind: ${e.getClass.getName}: ${e.getMessage}".take(400)
          System.err.println(s"[perfbench] $kind failed: $e")
          None
      }
    val secs = (System.nanoTime() - n0) / 1e9
    ops += Op(id, kind, cls, pass, s, System.currentTimeMillis(), secs, r.isDefined, tracing)
    r
  }

  def lastOpId: Int = ops.size - 1

  def digest(json: String): Unit = digests += ((lastOpId, json))

  def fact(name: String, value: Double): Unit =
    if (tracing) facts += ((lastOpId, name, value))
}
