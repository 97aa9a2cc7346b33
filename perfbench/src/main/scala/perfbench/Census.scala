package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark work of a run from outside the engine: every job,
  * stage and task, with the job group that was set when the job started
  * (the [[Tracer]] sets one per span) and the job's call site, the first
  * frame outside Spark that triggered the action. Adaptive execution
  * submits a query's stages from its own threads, so for SQL jobs the call
  * site is the one the query execution recorded when the action started.
  *
  * Events arrive on Spark's listener thread; readers call [[drain]] first,
  * which waits until every event queued so far has been delivered.
  */
final class Census(sc: SparkContext) extends SparkListener {
  import Census._

  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]
  private val stageSubmit = scala.collection.mutable.Map.empty[Int, Long]
  private val sqlSite = scala.collection.mutable.Map.empty[String, String]
  private val stagesRun = ArrayBuffer.empty[String] // job group of each completed stage

  sc.addSparkListener(this)

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")

  def drain(): Unit = PerfbenchBus.drain(sc)

  /** Forget everything recorded so far (call after [[drain]]). */
  def reset(): Unit = synchronized {
    jobs.clear(); tasks.clear(); stageGroup.clear(); stageSubmit.clear(); sqlSite.clear()
    stagesRun.clear()
  }

  def snapshot(): Snapshot = { drain(); synchronized(Snapshot(jobs.toVector, tasks.toVector, stagesRun.toVector)) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = groupOf(e.properties)
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(sqlSite.get)
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobs += Job(e.jobId, group, site, e.time)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlSite(s.executionId.toString) = s.description }
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageGroup(id) = groupOf(e.properties)
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesRun += stageGroup.getOrElse(e.stageInfo.stageId, "")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks += Task(
      group = stageGroup.getOrElse(e.stageId, ""),
      waitMs = i.launchTime - stageSubmit.getOrElse(e.stageId, i.launchTime),
      runMs = g(_.executorRunTime),
      cpuNs = g(_.executorCpuTime),
      shuffleWrite = g(_.shuffleWriteMetrics.bytesWritten),
      shuffleRead = g(_.shuffleReadMetrics.totalBytesRead),
      spill = g(_.diskBytesSpilled),
      result = g(_.resultSize),
      input = g(_.inputMetrics.bytesRead),
      output = g(_.outputMetrics.bytesWritten),
      failed = !i.successful)
  }
}

object Census {
  final case class Job(id: Int, group: String, site: String, start: Long,
      var end: Long = -1L, var ok: Boolean = true) {
    def seconds: Double = if (end < 0) 0.0 else (end - start) / 1e3
  }

  final case class Task(group: String, waitMs: Long, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, result: Long,
      input: Long, output: Long, failed: Boolean)

  final case class Snapshot(jobs: Vector[Job], tasks: Vector[Task], stages: Vector[String]) {
    /** Seconds of `[t0, t1]` (epoch millis) during which no job ran. */
    def idleSeconds(t0: Long, t1: Long): Double = {
      var busy = 0L
      var cursor = t0
      for (j <- jobs.filter(_.end >= 0).sortBy(_.start)) {
        val a = math.max(j.start, cursor)
        val b = math.min(j.end, t1)
        if (b > a) { busy += b - a; cursor = b }
      }
      math.max(0L, (t1 - t0) - busy) / 1e3
    }
  }
}
