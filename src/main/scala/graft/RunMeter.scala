package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftShim

/** The one metrics listener of Bench, the gate census and the tests. It
  * counts what a run did since the last [[reset]]: jobs (with each job's
  * seconds), shuffle-write bytes, and `stagePeakMem`,
  * the max over stages of the stage's SUMMED per-task peak execution
  * memory. That peak scales with the stage's task count, so 10x data
  * read as 10x scan tasks inflates it even when no task needs more
  * memory.
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
  private val jobStarts = collection.mutable.Map.empty[Int, Long]
  private val jobTimes = collection.mutable.ArrayBuffer.empty[JobTime]
  private var shuffleBytes = 0L
  private var stagePeakMem = 0L

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStarts(j.jobId) = j.time
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(j.jobId).foreach { t =>
      jobTimes += JobTime(j.jobId, (j.time - t) / 1000.0)
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val m = s.stageInfo.taskMetrics
    shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    stagePeakMem = math.max(stagePeakMem, m.peakExecutionMemory)
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
      jobs = 0; jobStarts.clear(); jobTimes.clear()
      shuffleBytes = 0L; stagePeakMem = 0L
    }
  }

  /** Everything counted since the last [[reset]]. */
  def read(): Reading = {
    drain()
    synchronized {
      Reading(jobs, jobTimes.toList, shuffleBytes, stagePeakMem)
    }
  }
}

object RunMeter {
  /** Repetitions per timed point in Bench: single shots on a shared
    * host swing ±30%, their median does not. */
  val Reps = 3

  final case class JobTime(id: Int, seconds: Double)

  final case class Reading(jobs: Int, jobTimes: Seq[JobTime],
      shuffleBytes: Long, stagePeakMem: Long)

  /** A meter listening on `spark` from now on. */
  def attach(spark: SparkSession): RunMeter = {
    val m = new RunMeter(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
