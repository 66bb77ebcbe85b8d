package graft

import graft.plans.{OrderedDumpSortRule, SummaryRegistry, SummaryRewriteRule}

/** The session factory is the one place plan rules are registered: a
  * session carries the same rules, in the same order, before and after
  * any gate is built. */
class SessionsSpec extends SparkSuite {
  private val rules = Seq(OrderedDumpSortRule, SummaryRewriteRule)

  test("Sessions.local installs the plan rules once, and building gates adds none") {
    assert(spark.experimental.extraOptimizations == rules)
    val again = Sessions.local(cores = 4,
      conf = Seq("spark.sql.warehouse.dir" -> "/tmp/graft-warehouse"))
    assert(again eq spark)
    assert(spark.experimental.extraOptimizations == rules)
    try {
      Seq("q168_summary_rewrite", "q169_summary_rollup",
          "q173_summary_filtered", "q190_summary_declined").foreach { q =>
        SparkEntry.queries(q)(spark, sf0001).queryExecution.optimizedPlan
        assert(spark.experimental.extraOptimizations == rules, q)
      }
    } finally SummaryRegistry.clear()
  }
}
