package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region: wall-clock interval, its enclosing span (-1 at
  * the root) and the operation it belongs to (-1 outside operations). */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call order on the driver
  * thread; nothing is written until the run writes its side file. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): (T, Span) = {
    val idx = spans.length
    spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), op)
    stack = idx :: stack
    val out = try body finally {
      stack = stack.tail
      spans(idx) = spans(idx).copy(endNs = System.nanoTime())
    }
    (out, spans(idx))
  }
}

/** Job record kept by [[Counters]]: epoch-ms interval, task count and
  * SQL execution id (-1 for none). */
final case class JobRecord(id: Int, startMs: Long, var endMs: Long,
    tasks: Int, execution: Long)

/** Spark listener that accumulates task, stage and job counts. Reads
  * are taken as deltas between two [[snapshot]]s around an operation,
  * after draining the listener bus, so a reading covers exactly the
  * events that operation produced. */
final class Counters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val input = new AtomicLong
  val output = new AtomicLong
  val jobLog = ArrayBuffer.empty[JobRecord]
  /** Each SQL execution's physical plan description, by execution id. */
  val plans = scala.collection.concurrent.TrieMap.empty[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobLog += JobRecord(e.jobId, e.time, -1L, e.stageInfos.map(_.numTasks).sum, execution)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      plans(x.executionId) = x.physicalPlanDescription
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobLog.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.failed_tasks" -> failedTasks.get.toDouble,
    "spark.task_run_s" -> taskRunMs.get / 1e3,
    "spark.task_cpu_s" -> taskCpuNs.get / 1e9,
    "spark.gc_s" -> gcMs.get / 1e3,
    "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "spark.spill_bytes" -> spill.get.toDouble,
    "spark.input_bytes" -> input.get.toDouble,
    "spark.output_bytes" -> output.get.toDouble)

  /** Jobs that started inside the epoch-ms window [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRecord] = synchronized {
    jobLog.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }
}

object Counters {
  /** Seconds of [fromMs, toMs] covered by at least one job. */
  def busySeconds(jobs: Seq[JobRecord], fromMs: Long, toMs: Long): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, fromMs),
      math.min(if (j.endMs < 0) toMs else j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    covered / 1e3
  }

  /** Drain the listener bus so every event of a finished action has
    * been delivered before its counters are read. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbenchbus.BusDrain(sc)
}

/** Records the trigger duration (ms) of every micro-batch that read
  * rows. */
final class EpochTimes extends StreamingQueryListener {
  private val epochs = ArrayBuffer.empty[Long]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0)
      epochs += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
  }
  def snapshot(): Seq[Long] = synchronized(epochs.toSeq)
}
