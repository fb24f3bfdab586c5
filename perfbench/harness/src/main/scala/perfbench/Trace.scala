package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters fed by Spark's public listener interfaces: the scheduler
  * (jobs, stages, tasks), executor time and shuffle bytes from task ends,
  * and Catalyst phase times from each finished query execution. */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, taskRunMs, taskCpuNs = new AtomicLong
  val shuffleReadBytes, shuffleWriteBytes, inputBytes, outputBytes = new AtomicLong
  val executions, analysisMs, optimizationMs, planningMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    executions.incrementAndGet()
    val p = qe.tracker.phases
    def ms(name: String): Long = p.get(name).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(ms("analysis"))
    optimizationMs.addAndGet(ms("optimization"))
    planningMs.addAndGet(ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_run_ms" -> taskRunMs.get, "task_cpu_ns" -> taskCpuNs.get,
    "shuffle_read_bytes" -> shuffleReadBytes.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "input_bytes" -> inputBytes.get, "output_bytes" -> outputBytes.get,
    "executions" -> executions.get, "analysis_ms" -> analysisMs.get,
    "optimization_ms" -> optimizationMs.get, "planning_ms" -> planningMs.get)
}

/** One traced interval with the listener-counter deltas it covers.
  * `layer` is the name up to the first dot. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int, counters: Map[String, Long])

/** Spans around the benchmark's calls into each graft layer. In a traced
  * run the listener bus is drained at both ends of every span, so each
  * span carries exactly the jobs, stages, tasks, shuffle bytes and
  * Catalyst time its calls caused. With tracing off every method is a
  * pass-through, so the untraced run pays nothing but the closure call.
  * The client is single-threaded, so the open-span stack is plain state. */
final class Tracer(spark: SparkSession, traced: Boolean) {
  /** Off for the untraced comparison loop of a traced run. */
  var enabled: Boolean = traced
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var currentOp = -1
  private val counters = new Counters

  if (traced) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      drain()
      val before = counters.snapshot
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        drain()
        val after = counters.snapshot
        spans += Span(id, name, t0, t1, parent, currentOp,
          after.map { case (k, v) => k -> (v - before(k)) })
        open = open.tail
      }
    }

  /** Run one client operation under a root span named for its kind. */
  def op[T](opId: Int, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      currentOp = opId
      try span(s"client.$kind")(body)
      finally currentOp = -1
    }

  private def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

  def allSpans: Seq[Span] = spans.toSeq

  def detach(): Unit = if (traced) {
    drain()
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
  }
}
