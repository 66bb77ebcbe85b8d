package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The benchmark's one listener, shared by every workload. Each Spark
  * job is charged to two things:
  *  - the harness label (`perfbench.label` local property) that was set
  *    when the job was submitted — broadcast and AQE jobs run on other
  *    threads but carry the submitting thread's local properties;
  *  - the first program frame (`graft.*`, the harness excluded) of the
  *    call site that caused it. A job inside a SQL execution takes the
  *    execution's long call site, because the job's own call site is a
  *    `CompletableFuture` frame for broadcast and AQE jobs; a job with
  *    no execution (e.g. `localCheckpoint`) takes its first stage's.
  * Task metrics are summed per job. Read only after the listener bus
  * has drained. */
final class JobLedger extends SparkListener {
  import JobLedger.Job

  private val execSites = mutable.Map[Long, String]()
  private val stageJob = mutable.Map[Int, Job]()
  private val all = mutable.ArrayBuffer[Job]()

  def jobs: Seq[Job] = synchronized(all.toList)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSites(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
    val execSite = prop("spark.sql.execution.id").flatMap(id => execSites.get(id.toLong))
    val site = execSite.getOrElse(j.stageInfos.headOption.map(_.details).getOrElse(""))
    val job = new Job(j.jobId, prop(JobLedger.LabelKey).getOrElse(""),
      JobLedger.programFrames(site), j.time)
    j.stageInfos.foreach(s => stageJob(s.stageId) = job)
    all += job
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    all.find(_.id == j.jobId).foreach(_.end = j.time)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(s.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(t.stageId); m <- Option(t.taskMetrics)) {
      job.tasks += 1
      job.runMs += m.executorRunTime
      job.cpuNs += m.executorCpuTime
      job.gcMs += m.jvmGCTime
      job.maxTaskMs = math.max(job.maxTaskMs, m.executorRunTime)
      job.maxTaskMem = math.max(job.maxTaskMem, m.peakExecutionMemory)
      job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      job.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      job.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      job.spill += m.diskBytesSpilled
      job.input += m.inputMetrics.bytesRead
      job.output += m.outputMetrics.bytesWritten
      job.outputRecords += m.outputMetrics.recordsWritten
    }
  }
}

object JobLedger {
  val LabelKey = "perfbench.label"

  final class Job(val id: Int, val label: String, val frames: Seq[String],
      val start: Long) {
    var end: Long = start
    var stages, tasks = 0
    var runMs, cpuNs, gcMs, maxTaskMs, maxTaskMem = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var input, output, outputRecords = 0L
    def ms: Long = end - start
    /** Innermost program frame, without its file and line; the harness's
      * own actions (a gate's `toRdd.count()`) have none. */
    def site: String = frames.headOption.getOrElse("(harness action)")
  }

  /** Program frames of a long call site, innermost first, as
    * `class.method` without file and line. */
  def programFrames(longSite: String): Seq[String] =
    longSite.split('\n').iterator.map(_.trim)
      .filter(f => f.startsWith("graft.") && !f.startsWith("graft.perfbench."))
      .map(_.takeWhile(_ != '('))
      .toList

  /** Milliseconds of `[from, to]` during which at least one of `jobs`
    * was running. */
  def busyMs(jobs: Seq[Job], from: Long, to: Long): Long = {
    val spans = jobs.map(j => (math.max(j.start, from), math.min(j.end, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy, curA, curB = 0L
    var open = false
    spans.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) busy += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) busy += curB - curA
    busy
  }
}
