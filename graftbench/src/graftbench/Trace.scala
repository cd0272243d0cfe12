package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative engine counters fed by Spark's listener bus. Read them
  * only after [[org.apache.spark.graftbench.Bus.drain]]. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = c(k) += v

  def snapshot(): Map[String, Double] = synchronized(c.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(add("jobs", 1))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(add("stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    add("tasks", 1)
    if (m != null) {
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("output_records", m.outputMetrics.recordsWritten.toDouble)
      // the Spark UI's definition: time a task existed but neither ran,
      // (de)serialized nor shipped its result
      val overhead = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + info.gettingResultTime
      add("scheduler_delay_ms", math.max(0L, info.duration - overhead).toDouble)
    }
  }

  // file writes, including those graft issues inside a streaming
  // micro-batch where no span of ours can reach
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.logical.exists(_.nodeName.startsWith("InsertIntoHadoopFsRelation")))
      synchronized(add("write_ns", durationNs.toDouble))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** One timed call into a layer. `counters` is the change in the engine
  * counters over the span, the span's children included. */
final case class Span(id: Int, parent: Int, name: String, workload: String, op: Int,
                      startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into graft. When off,
  * `span` only runs its body and `mat` passes its frame through, so the
  * untraced run keeps Spark's natural lazy composition. When on, `mat`
  * persists and counts a frame inside the current span, so each layer's
  * work lands in its own span. */
final class Tracer(val on: Boolean, spark: => SparkSession, counters: => Counters,
                   workload: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List(-1)
  private val cached = mutable.ArrayBuffer.empty[DataFrame]
  /** Per-operation values a workload observes itself: (op, name, value). */
  val gauges = mutable.ArrayBuffer.empty[(Int, String, Double)]
  var op = 0

  def gauge(name: String, v: Double): Unit = if (on) gauges += ((op, name, v))

  private def drained(): Map[String, Double] = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    counters.snapshot()
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val before = drained()
      val t0 = System.nanoTime()
      stack = id :: stack
      val r = try body finally stack = stack.tail
      val t1 = System.nanoTime()
      val after = drained()
      val diff = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      spans += Span(id, stack.head, name, workload, op, t0, t1, diff)
      r
    }

  def mat(df: DataFrame): DataFrame =
    if (!on) df
    else {
      val p = df.persist()
      p.count()
      cached += p
      p
    }

  /** Drop the frames [[mat]] cached during the current operation. */
  def release(): Unit = { cached.foreach(_.unpersist(blocking = true)); cached.clear() }

  /** Self time of a span: its duration minus what its children cover
    * (children of one span never overlap, calls being sequential). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}
