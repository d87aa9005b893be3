package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEnd

/** Records every Spark job, stage and task and every SQL execution's plan
  * facts (read when the execution ends), attributed to the job group (or streaming query) that ran it. The
  * benchmark sets a job group before each call it makes into the engine.
  * Everything stays in memory until the run ends.
  */
final class SparkTrace(spark: SparkSession) extends SparkListener {
  import SparkTrace._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execGroup = mutable.Map.empty[Long, String]
  private val execFacts = mutable.Map.empty[Long, PlanFacts]

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    this
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
  }

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p =>
      Option(p.getProperty("sql.streaming.queryId")).map("stream:" + _)
        .orElse(Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobs(e.jobId) = JobRec(e.jobId, g, e.time, -1L)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = groupOf(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val s = stages.getOrElse(key, StageRec(i.stageId, stageGroup.getOrElse(i.stageId, "")))
    stages(key) = s.copy(
      startMs = i.submissionTime.getOrElse(-1L),
      endMs = i.completionTime.getOrElse(-1L),
      tasks = i.numTasks,
      jobId = stageJob.getOrElse(i.stageId, -1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    val s = stages.getOrElse(key, StageRec(e.stageId, stageGroup.getOrElse(e.stageId, "")))
    val m = e.taskMetrics
    val info = e.taskInfo
    stages(key) = if (m == null) s else {
      val dur = info.finishTime - info.launchTime
      val delay = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      s.copy(
        taskDurMs = s.taskDurMs + dur,
        taskRunMs = s.taskRunMs + m.executorRunTime,
        taskCpuNs = s.taskCpuNs + m.executorCpuTime,
        schedDelayMs = s.schedDelayMs + delay,
        shuffleWrite = s.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = s.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = s.spill + m.diskBytesSpilled,
        input = s.input + m.inputMetrics.bytesRead)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { s.jobGroupId.foreach(g => execGroup(s.executionId) = g) }
    case s: SparkListenerSQLExecutionEnd =>
      ExecutionEnd.queryExecution(s).foreach { qe =>
        val f = try PlanFacts.of(qe) catch { case _: Exception => PlanFacts() }
        synchronized { execFacts(s.executionId) = f }
      }
    case _ =>
  }

  /** Block until every event up to now has reached this trace: run a tiny
    * job under a fresh group and wait until the trace has seen it.
    */
  def sync(): Unit = {
    val g = s"sync-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(g, "trace sync")
    spark.range(1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    def seen = synchronized {
      execGroup.exists { case (id, eg) => eg == g && execFacts.contains(id) }
    }
    while (!seen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def jobsOf(group: String): Seq[JobRec] = synchronized(jobs.values.filter(_.group == group).toSeq)
  def stagesOf(group: String): Seq[StageRec] =
    synchronized(stages.values.filter(_.group == group).toSeq)
  def factsOf(group: String): PlanFacts = synchronized {
    execGroup.collect { case (id, g) if g == group => execFacts.getOrElse(id, PlanFacts()) }
      .foldLeft(PlanFacts())(_ + _)
  }

  /** Totals of the given groups' jobs, stages and tasks. */
  def totals(groups: Iterable[String]): Totals = {
    val gs = groups.toSet
    val st = synchronized(stages.values.filter(s => gs(s.group)).toSeq)
    Totals(
      jobs = synchronized(jobs.values.count(j => gs(j.group))),
      stages = st.size,
      tasks = st.map(_.tasks).sum,
      taskDurMs = st.map(_.taskDurMs).sum,
      taskRunMs = st.map(_.taskRunMs).sum,
      taskCpuNs = st.map(_.taskCpuNs).sum,
      schedDelayMs = st.map(_.schedDelayMs).sum,
      shuffleWrite = st.map(_.shuffleWrite).sum,
      shuffleRead = st.map(_.shuffleRead).sum,
      spill = st.map(_.spill).sum,
      input = st.map(_.input).sum)
  }
}

object SparkTrace {
  final case class JobRec(id: Int, group: String, startMs: Long, endMs: Long)

  final case class StageRec(
      id: Int,
      group: String,
      startMs: Long = -1L,
      endMs: Long = -1L,
      tasks: Int = 0,
      jobId: Int = -1,
      taskDurMs: Long = 0L,
      taskRunMs: Long = 0L,
      taskCpuNs: Long = 0L,
      schedDelayMs: Long = 0L,
      shuffleWrite: Long = 0L,
      shuffleRead: Long = 0L,
      spill: Long = 0L,
      input: Long = 0L)

  final case class Totals(
      jobs: Int, stages: Int, tasks: Int, taskDurMs: Long, taskRunMs: Long,
      taskCpuNs: Long, schedDelayMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, input: Long)
}
