package perfbench

import scala.collection.mutable

import org.apache.spark.{ListenerDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The traced run's recorder: harness spans around calls into the
  * engine, Spark jobs as child spans of the harness span that submitted
  * them, and execution counters summed per harness span. Everything is
  * kept in memory and handed out once, at the end, by [[spans]].
  *
  * A span is (id, name, parent, start, end) with times in epoch
  * milliseconds; job spans carry their planned task count, harness
  * spans the counter deltas over their interval.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val SpanProperty = "perfbench.span"
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val out = mutable.ArrayBuffer[Map[String, Any]]()
  private var nextId = 0

  // counters, written on the listener thread, read after a drain
  private val sums = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private var peakExecutionMemory = 0L
  private val openJobs = mutable.Map[Int, (Double, Int, Int)]()

  spark.sparkContext.addSparkListener(this)

  /** Runs `body` as a span named `name` under `parent` and returns its
    * id and wall time in seconds. */
  def span(name: String, parent: Int)(body: => Unit): (Int, Double) = {
    val id = synchronized { nextId += 1; nextId }
    ListenerDrain(spark.sparkContext)
    val before = synchronized { peakExecutionMemory = 0L; sums.toMap }
    spark.sparkContext.setLocalProperty(SpanProperty, id.toString)
    val start = nowMs
    val t0 = System.nanoTime()
    try body
    finally spark.sparkContext.setLocalProperty(SpanProperty, null)
    val secs = (System.nanoTime() - t0) / 1e9
    val end = nowMs
    ListenerDrain(spark.sparkContext)
    synchronized {
      val delta = sums.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }.toMap +
        ("peak_execution_memory_bytes" -> peakExecutionMemory.toDouble)
      out += Map("id" -> id, "name" -> name, "parent" -> parent, "kind" -> "harness",
        "start_ms" -> start, "end_ms" -> end, "counters" -> delta)
    }
    (id, secs)
  }

  /** Runs `body` with this listener detached, for untraced runs made
    * between traced ones. */
  def untraced(body: => Unit): Unit = {
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    try body
    finally spark.sparkContext.addSparkListener(this)
  }

  /** A span that encloses other spans; its counters are not summed. */
  def root(name: String): Int = synchronized {
    nextId += 1
    out += Map("id" -> nextId, "name" -> name, "parent" -> 0, "kind" -> "harness",
      "start_ms" -> nowMs)
    nextId
  }

  def close(id: Int): Unit = synchronized {
    val i = out.indexWhere(_("id") == id)
    out(i) = out(i) + ("end_ms" -> nowMs)
  }

  /** Counter deltas of span `id`. */
  def counters(id: Int): Map[String, Double] = synchronized {
    out.find(_("id") == id).get("counters").asInstanceOf[Map[String, Double]]
  }

  def spans: Seq[Map[String, Any]] = {
    ListenerDrain(spark.sparkContext)
    synchronized(out.toList)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    sums("jobs") += 1
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toInt).getOrElse(0)
    openJobs(e.jobId) = (e.time.toDouble, parent, e.stageInfos.map(_.numTasks).sum)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (start, parent, tasks) =>
      nextId += 1
      out += Map("id" -> nextId, "name" -> s"job ${e.jobId}", "parent" -> parent,
        "kind" -> "job", "start_ms" -> start, "end_ms" -> e.time.toDouble,
        "planned_tasks" -> tasks)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    sums("stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    sums("tasks") += 1
    if (e.reason != Success) sums("task_failures") += 1
    val m = e.taskMetrics
    if (m != null) {
      sums("executor_run_s") += m.executorRunTime / 1e3
      sums("executor_cpu_s") += m.executorCpuTime / 1e9
      sums("gc_s") += m.jvmGCTime / 1e3
      sums("spill_bytes") += m.diskBytesSpilled.toDouble
      sums("input_bytes") += m.inputMetrics.bytesRead.toDouble
      sums("input_records") += m.inputMetrics.recordsRead.toDouble
      sums("shuffle_write_records") += m.shuffleWriteMetrics.recordsWritten.toDouble
      sums("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
      sums("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead.toDouble
      sums("fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
      peakExecutionMemory = math.max(peakExecutionMemory, m.peakExecutionMemory)
    }
  }
}
