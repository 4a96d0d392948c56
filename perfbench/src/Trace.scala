package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for traced runs: one span per layer call, with its name,
  * start, end, parent span and operation id. Spans stay in memory and are
  * written once, at the end. While `on` is false a span only runs its body.
  */
final class Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var on = false
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, start - t0, System.nanoTime() - t0)
        stack = stack.tail
      }
    }

  def count: Int = spans.length

  /** Seconds spent in spans called `name`, per operation id. */
  def secondsByOp(name: String): Map[Int, Double] =
    spans.filter(_.name == name).groupBy(_.op)
      .map { case (op, ss) => op -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum }

  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark's own counters, read from outside the program: a `SparkListener`
  * and a `QueryExecutionListener` registered by the benchmark, plus deltas of
  * the codegen compile-time counters. Attached only in traced runs; `take()`
  * returns what accumulated since the previous `take()`.
  */
final class SparkCounters(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val c = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobEnds = ArrayBuffer.empty[Long]
  private var compileNs = CodeGenerator.compileTime
  private var compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var attached = false

  private def add(k: String, v: Double): Unit = c.synchronized(c(k) += v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = c.synchronized(jobEnds += e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (!e.taskInfo.successful) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_s", m.executorRunTime / 1e3)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("task_wait_s", math.max(e.taskInfo.duration - m.executorRunTime, 0L) / 1e3)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("spill_mb", m.diskBytesSpilled / 1e6)
      add("read_mb", m.inputMetrics.bytesRead / 1e6)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add("plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    BenchAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  /** Counters since the last call (after the listener bus drains), and the
    * end times of the jobs that finished in that window.
    */
  def take(): (Map[String, Double], Seq[Long]) = {
    BenchAccess.drain(spark.sparkContext)
    val ns = CodeGenerator.compileTime
    val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    c.synchronized {
      val out = c.toMap ++ Map(
        "codegen_compile_s" -> (ns - compileNs) / 1e9,
        "codegen_classes" -> (n - compiled).toDouble)
      val ends = jobEnds.toList
      c.clear(); jobEnds.clear()
      compileNs = ns; compiled = n
      (out, ends)
    }
  }
}
