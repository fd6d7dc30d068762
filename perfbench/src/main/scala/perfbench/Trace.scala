package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall clock for harness spans and Spark's listener timestamps: epoch
  * milliseconds with sub-millisecond resolution from `nanoTime`.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** The job property that ties Spark jobs to the harness op that caused
  * them; threads started inside an op (stream runners, the model runner's
  * pool) inherit it.
  */
object OpProperty { val Key = "perfbench.op" }

final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double, end: Double)

/** Harness-side spans around the calls into each layer. Disabled, `span`
  * only runs its body. Spans stay in memory until the run ends.
  */
final class Spans(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  @volatile var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get()
      val start = Clock.nowMs
      stack.set(id :: parents)
      try body
      finally {
        stack.set(parents)
        val s = Span(id, name, parents.headOption.getOrElse(0), op, start, Clock.nowMs)
        synchronized { done += s }
      }
    }

  def all: Seq[Span] = synchronized(done.toList)
}

/** Spark's public listeners, installed by the harness for a traced run:
  * jobs, stages and tasks from the scheduler, planning phases from each
  * executed `QueryExecution`.
  */
final class SparkRecorder extends SparkListener with QueryExecutionListener {
  import SparkRecorder._

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]
  val planning = ArrayBuffer.empty[Planning]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty.Key))).map(_.toInt).getOrElse(-1)
    jobs += Job(e.jobId, op, e.time.toDouble, Double.NaN, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += Stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m == null)
      tasks += Task(e.stageId, i.launchTime.toDouble, i.finishTime.toDouble, i.successful, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    else
      tasks += Task(e.stageId, i.launchTime.toDouble, i.finishTime.toDouble, i.successful,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled, m.diskBytesSpilled)
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      planning += Planning(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def record: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.map(j => Seq(j.id, j.op, j.start, j.end, j.stages)).toList,
      "stages" -> stages.map(s => Seq(s.id, s.attempt)).toList,
      "tasks" -> tasks.map(t => Seq(t.stage, t.start, t.end, t.ok, t.runMs, t.cpuNs, t.gcMs,
        t.inBytes, t.inRows, t.shWrite, t.shRead, t.fetchWaitMs, t.memSpill, t.diskSpill)).toList,
      "planning" -> planning.map(p => Seq(p.phase, p.start, p.end)).toList)
  }
}

object SparkRecorder {
  final case class Job(id: Int, op: Int, start: Double, var end: Double, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int)
  /** Times in epoch ms; metric fields as Spark reports them. */
  final case class Task(stage: Int, start: Double, end: Double, ok: Boolean, runMs: Long, cpuNs: Long,
      gcMs: Long, inBytes: Long, inRows: Long, shWrite: Long, shRead: Long, fetchWaitMs: Long,
      memSpill: Long, diskSpill: Long)
  final case class Planning(phase: String, start: Double, end: Double)
}

/** Every micro-batch's `StreamingQueryProgress`, kept rather than
  * discarded. Installed on every run: the streaming figures come from here.
  */
final class ProgressRecorder extends StreamingQueryListener {
  private val batches = ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val b = Map(
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "input_rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
    synchronized { batches += b }
  }

  def all: Seq[Map[String, Any]] = synchronized(batches.toList)
}
