package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The one metrics listener against the plan's own counters. */
class RunMeterSpec extends SparkSuite {
  import spark.implicits._

  private def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeExec => e +: e.children.flatMap(exchanges)
    case other => other.children.flatMap(exchanges)
  }

  test("RunMeter: jobs and shuffle bytes of a plan with one shuffle") {
    val meter = RunMeter.attach(spark)
    def plan = spark.range(0, 10000, 1, 4).groupBy(($"id" % 10).as("k")).count()
    meter.reset()
    assert(meter.read() == RunMeter.Reading(0, Nil, 0L, 0L))

    val df = plan
    assert(df.queryExecution.toRdd.count() == 10)
    val m = meter.read()
    val ex = exchanges(df.queryExecution.executedPlan)
    assert(ex.size == 1, df.queryExecution.executedPlan)
    val written = ex.head.metrics("shuffleBytesWritten").value
    assert(written > 0)
    assert(m.shuffleBytes == written)
    // AQE runs the map stage and the result stage as one job each
    assert(m.jobs == 2 && m.jobTimes.size == 2, m)
    assert(m.stagePeakMem > 0, m)

    // the same plan again: the same counts, over a freshly reset meter
    meter.reset()
    assert(plan.queryExecution.toRdd.count() == 10)
    val again = meter.read()
    assert(again.jobs == m.jobs && again.shuffleBytes == m.shuffleBytes, again)
  }
}
