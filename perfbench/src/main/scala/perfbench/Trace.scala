package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a traced run; `parent` is -1 at a request root. */
final case class Span(id: Int, parent: Int, name: String, req: Int,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are kept until the run ends and are
  * written out then, so recording costs two clock reads and an append.
  */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var next = 0
  private var stack = List.empty[Int]
  private var req = -1

  def request[T](id: Int, name: String)(body: => T): T = {
    req = id
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, req, t0, System.nanoTime())
      stack = stack.tail
    }
  }
}

/** Engine-wide counters from Spark's own listeners: task metrics from the
  * scheduler, Catalyst phase times from each action's QueryPlanningTracker.
  * Read through [[snapshot]] after draining the listener bus.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = scala.collection.mutable.LinkedHashMap(
    "spark.jobs" -> 0.0, "spark.tasks" -> 0.0, "exec.cpu_ms" -> 0.0,
    "exec.gc_ms" -> 0.0, "scan.rows" -> 0.0,
    "shuffle.bytes" -> 0.0, "spill.bytes" -> 0.0,
    "catalyst.analysis_ms" -> 0.0, "catalyst.optimization_ms" -> 0.0,
    "catalyst.planning_ms" -> 0.0)

  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  def snapshot(): Map[String, Double] = synchronized { c.toMap }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("scan.rows", m.inputMetrics.recordsRead.toDouble)
      add("shuffle.bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill.bytes", m.diskBytesSpilled.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit =
    for ((phase, summary) <- qe.tracker.phases)
      if (c.contains(s"catalyst.${phase}_ms"))
        add(s"catalyst.${phase}_ms", summary.durationMs.toDouble)
}
