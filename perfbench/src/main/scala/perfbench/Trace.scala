package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A call the benchmark made, with wall-clock bounds in epoch milliseconds
  * (the unit Spark's task and job events carry).
  */
final case class Span(name: String, parent: String, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Spark work attributed to one span. */
final case class Cost(jobs: Int, stages: Int, tasks: Int, taskCpuS: Double,
                      shuffleBytes: Long, spillBytes: Long, inputBytes: Long,
                      noTaskS: Double) {
  def +(o: Cost): Cost = Cost(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskCpuS + o.taskCpuS, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes, noTaskS + o.noTaskS)
}
object Cost { val zero: Cost = Cost(0, 0, 0, 0, 0, 0, 0, 0) }

/** The traced run's recorder: a SparkListener that keeps every job, stage
  * and task event in memory, plus the spans the benchmark opens around its
  * own calls. Work is attributed to a span by time window (a task belongs to
  * the span its launch falls in), not by job group: TxReplayStream submits
  * jobs from Futures on the global ExecutionContext, whose pooled threads
  * do not reliably carry Spark's local properties.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  private final case class TaskRec(launch: Long, finish: Long, cpuNs: Long,
                                   shuffle: Long, spill: Long, input: Long)
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val jobStarts = new ConcurrentLinkedQueue[Long]
  private val stageStarts = new ConcurrentLinkedQueue[Long]
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  sc.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageStarts.add(t))

  /** Run `f` inside a span named `name`. */
  def span[T](name: String, parent: String = "")(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally spans += Span(name, parent, t0, System.currentTimeMillis())
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Spark work inside `s`. `noTaskS` is the part of the span during which
    * no task of any span was running: planning and scheduling time.
    */
  def cost(s: Span): Cost = {
    val in = tasks.asScala.filter(t => t.launch >= s.startMs && t.launch <= s.endMs).toSeq
    val busy = tasks.asScala
      .map(t => (math.max(t.launch, s.startMs), math.min(t.finish, s.endMs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var reach = s.startMs
    busy.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    def within(ts: ConcurrentLinkedQueue[Long]) =
      ts.asScala.count(t => t >= s.startMs && t <= s.endMs)
    Cost(within(jobStarts), within(stageStarts), in.size,
      in.map(_.cpuNs).sum / 1e9, in.map(_.shuffle).sum, in.map(_.spill).sum,
      in.map(_.input).sum, (s.endMs - s.startMs - covered) / 1000.0)
  }

  /** Spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, spans.map { s =>
      s"""{"name":"${s.name}","parent":"${s.parent}","start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }.mkString("", "\n", "\n"))
  }
}
