package pipebench

import scala.collection.mutable

import org.apache.spark.{PipebenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** What Spark did inside one span: counts from the listener, plus the
  * span's wall time measured on the driver. Times in ms are epoch millis. */
final class Span(val name: String, val parent: String, val beginMs: Long) {
  var wallS = 0.0
  var jobs, broadcastJobs, stages, tasks, failedTasks = 0L
  var taskS, taskCpuS, gcS = 0.0
  var shuffleWriteBytes, spillBytes, bytesRead, recordsRead, bytesWritten = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  val jobStarts = mutable.HashMap[Int, Long]()
  /** (start, end) of every SQL execution that wrote files (one per written day). */
  val writes = mutable.ArrayBuffer[(Long, Long)]()
  val executions = mutable.ArrayBuffer[Long]()
  val writeStarts = mutable.HashMap[Long, Long]()
  /** task durations (ms) of every stage that wrote output. */
  val writeTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()

  def firstJobStartMs: Option[Long] = (jobIntervals.map(_._1) ++ jobStarts.values).minOption

  /** Span wall time during which no Spark job was running. */
  def idleS: Double = {
    val end = beginMs + (wallS * 1000).toLong
    var busy = 0L
    var reach = beginMs
    for ((s0, e0) <- jobIntervals.sortBy(_._1)) {
      val s = math.max(s0, reach)
      val e = math.min(e0, end)
      if (e > s) { busy += e - s; reach = e }
    }
    math.max(0.0, wallS - busy / 1000.0)
  }

  /** Slowest ÷ median task of the stage that wrote the most tasks' output. */
  def slowestTaskRatio: Double = writeTaskMs.values.maxByOption(_.length).map { d =>
    val s = d.sorted
    s.last.toDouble / math.max(1L, s(s.length / 2))
  }.getOrElse(0.0)

  def toJson: String = Json.obj(Seq(
    "name" -> name, "parent" -> parent, "begin_ms" -> beginMs, "wall_s" -> wallS, "jobs" -> jobs, "broadcast_jobs" -> broadcastJobs,
    "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks, "task_s" -> taskS,
    "task_cpu_s" -> taskCpuS, "gc_s" -> gcS, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "bytes_read" -> bytesRead, "records_read" -> recordsRead,
    "bytes_written" -> bytesWritten, "idle_s" -> idleS, "write_executions" -> writes.length))
}

/** Marks the start (`span` set) or the end (`span` null) of a span on the
  * listener bus, so the listener sees it in order with Spark's events. */
final case class SpanMark(span: Span) extends SparkListenerEvent

/** Attributes every job, stage and task event to the span open when Spark
  * posted it. Only the listener thread writes; the driver reads a span after
  * [[Tracer.span]] has drained the bus. */
final class Recorder extends SparkListener {
  private var current: Span = null
  private val jobSpan = mutable.HashMap[Int, Span]()
  private val stageSpan = mutable.HashMap[Int, Span]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case SpanMark(s) => current = s
    case e: SparkListenerSQLExecutionStart if current != null =>
      current.executions += e.executionId
      if (e.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
        current.writeStarts(e.executionId) = e.time
    case e: SparkListenerSQLExecutionEnd if current != null =>
      current.writeStarts.remove(e.executionId).foreach(t => current.writes += ((t, e.time)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (current != null) {
    jobSpan(e.jobId) = current
    current.jobs += 1
    current.jobStarts(e.jobId) = e.time
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
    if ((desc ++ tags).exists(_.contains("broadcast"))) current.broadcastJobs += 1
    e.stageIds.foreach(stageSpan(_) = current)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobSpan.remove(e.jobId).foreach { s =>
    s.jobStarts.remove(e.jobId).foreach(t => s.jobIntervals += ((t, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stageSpan.get(e.stageId).foreach { s =>
    s.tasks += 1
    if (e.reason != Success) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskS += m.executorRunTime / 1e3
      s.taskCpuS += m.executorCpuTime / 1e9
      s.gcS += m.jvmGCTime / 1e3
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.bytesRead += m.inputMetrics.bytesRead
      s.recordsRead += m.inputMetrics.recordsRead
      s.bytesWritten += m.outputMetrics.bytesWritten
      if (m.outputMetrics.bytesWritten > 0)
        s.writeTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
    }
  }
}

/** Opens spans around driver code. The listener is attached only while
  * [[traced]] work runs, so untraced ops in the same JVM pay nothing for it.
  * Spans are kept in memory and written out by the caller when the run ends. */
final class Tracer(spark: SparkSession) {
  private val recorder = new Recorder
  val spans = mutable.ArrayBuffer[Span]()

  def traced[T](body: => T): T = {
    spark.sparkContext.addSparkListener(recorder)
    try body finally spark.sparkContext.removeSparkListener(recorder)
  }

  /** The op whose work the spans opened now belong to. */
  var op = ""

  def span[T](name: String)(body: => T): (T, Span) = {
    val sc = spark.sparkContext
    PipebenchBus.drain(sc)
    val s = new Span(name, op, System.currentTimeMillis())
    PipebenchBus.post(sc, SpanMark(s))
    val t0 = System.nanoTime()
    val out = try body finally {
      s.wallS = (System.nanoTime() - t0) / 1e9
      PipebenchBus.post(sc, SpanMark(null))
      PipebenchBus.drain(sc)
      spans += s
    }
    (out, s)
  }
}
