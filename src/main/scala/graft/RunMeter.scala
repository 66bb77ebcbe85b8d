package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.GraftShim

/** The one metrics listener of the mains and the tests. It counts what
  * a run did since the last [[reset]]: jobs (with each job's seconds and
  * description), shuffle-write bytes, and three memory and straggler
  * signals:
  *  - `stagePeakMem`: max over stages of the stage's SUMMED per-task
  *    peak execution memory. It scales with the stage's task count, so
  *    10x data read as 10x scan tasks inflates it even when no task
  *    needs more memory;
  *  - `maxTaskPeak` and `maxTaskStage`: the largest single task's peak
  *    and its stage, the executor-sizing number (a task must fit its
  *    slot however many tasks the stage has). A scan-stage peak answers
  *    to files.maxPartitionBytes, a shuffle-stage peak to
  *    shuffle.partitions;
  *  - `maxTaskMs`: the longest task, the straggler the stage waits on.
  *
  * Shuffle bytes repeat exactly across runs of one plan while wall time
  * swings with host load, so identical bytes with inflated seconds mean
  * co-tenant load and different bytes mean a plan change.
  *
  * The listener bus is asynchronous even in local mode, so [[reset]] and
  * [[read]] first wait until it has delivered every queued event, and
  * throw if it never empties: a leaked event would bill one run's work
  * to the next. */
final class RunMeter private (spark: SparkSession) extends SparkListener {
  import RunMeter._

  private var jobs = 0
  private val jobStarts = collection.mutable.Map.empty[Int, (Long, String)]
  private val jobTimes = collection.mutable.ArrayBuffer.empty[JobTime]
  private var shuffleBytes = 0L
  private var stagePeakMem = 0L
  private var maxTaskPeak = 0L
  private var maxTaskStage = ""
  private var maxTaskMs = 0L
  private val stageNames = collection.mutable.Map.empty[Int, String]

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStarts(j.jobId) = (j.time, Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(j.jobId).foreach { case (t, d) =>
      jobTimes += JobTime(j.jobId, (j.time - t) / 1000.0, d)
    }
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
    stageNames(s.stageInfo.stageId) = s.stageInfo.name.takeWhile(_ != '\n').take(80)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val m = s.stageInfo.taskMetrics
    shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    stagePeakMem = math.max(stagePeakMem, m.peakExecutionMemory)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    if (t.taskMetrics != null && t.taskMetrics.peakExecutionMemory > maxTaskPeak) {
      maxTaskPeak = t.taskMetrics.peakExecutionMemory
      maxTaskStage = s"stage${t.stageId}:${stageNames.getOrElse(t.stageId, "?")}"
    }
    if (t.taskInfo != null) maxTaskMs = math.max(maxTaskMs, t.taskInfo.duration)
  }

  /** Waits for the listener bus to empty, for up to nine 15 s tries. */
  private def drain(): Unit = {
    var tries = 0
    while (!GraftShim.drainListenerBus(spark.sparkContext, 15000L))
      if ({ tries += 1; tries } > 8)
        throw new IllegalStateException("listener bus did not drain")
  }

  /** Forgets everything counted so far. */
  def reset(): Unit = {
    drain()
    synchronized {
      jobs = 0; jobStarts.clear(); jobTimes.clear(); stageNames.clear()
      shuffleBytes = 0L; stagePeakMem = 0L
      maxTaskPeak = 0L; maxTaskStage = ""; maxTaskMs = 0L
    }
  }

  /** Everything counted since the last [[reset]]. */
  def read(): Reading = {
    drain()
    synchronized {
      Reading(jobs, jobTimes.toList, shuffleBytes, stagePeakMem,
        maxTaskPeak, maxTaskStage, maxTaskMs)
    }
  }

  /** Runs `df()` to its last row `reps` times on a freshly reset meter.
    * Returns the median seconds, the row count and what the reps did in
    * total. `toRdd.count()`, not `count()`: a Dataset count re-plans
    * with unreferenced columns pruned, and join elimination can then
    * drop a heavy branch the consumer of the rows would pay for. */
  def medianOf(reps: Int)(df: () => DataFrame): (Double, Long, Reading) = {
    reset()
    var rows = 0L
    val secs = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      rows = df().queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    (secs(secs.length / 2), rows, read())
  }
}

object RunMeter {
  /** Repetitions per timed point in Bench and the stress mains: single
    * shots on a shared host swing ±30%, their median does not. */
  val Reps = 3

  final case class JobTime(id: Int, seconds: Double, description: String)

  final case class Reading(jobs: Int, jobTimes: Seq[JobTime],
      shuffleBytes: Long, stagePeakMem: Long, maxTaskPeak: Long,
      maxTaskStage: String, maxTaskMs: Long)

  /** A meter listening on `spark` from now on. */
  def attach(spark: SparkSession): RunMeter = {
    val m = new RunMeter(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
