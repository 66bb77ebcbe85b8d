package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

/** Static audit for the `WindowExec: No Partition Defined` warning in
  * the r8/r9 bench tails (VERDICT r9 "what's wrong" #2): walks every
  * gated query's physical plan and reports each WindowExec whose
  * partitionSpec is empty, with the query name and the window's
  * expressions — no execution, no log scraping, deterministic
  * attribution. Exits nonzero if an UNEXPECTED one is found (PlanSpec
  * pins the allowlist; this main is the hunting tool).
  */
object WindowAudit {
  /** The one legitimate empty-partition window: the skew-safe op
    * family's OFFSETS CHAIN (`EventAnalytics.runningAggsSkewSafe` /
    * `lagSkewSafe`), a running merge ordered by `__slice` over the
    * per-slice TOTALS frame — ≤ slices × keys rows by construction
    * (the data itself rides the (slice, key)-partitioned local
    * window). When the caller's key is a constant (the two-sample
    * drift tests, the global PPS/packing axes), Catalyst's
    * FoldablePropagation folds the key out of the partition spec —
    * a plan-cosmetic change: a constant key also hashes every row to
    * one reducer, and "every row" here is the P-row slice roll-up,
    * never the data. Fingerprint: ordered solely by `__slice`, and
    * every window expression reads only the op family's own
    * slice-total columns — `__slice_agg_*` / the `__sp` struct
    * (runningAggsSkewSafe / lagSkewSafe offsets) or `__cnt`
    * (pickGlobalRanks' per-(slice, key) count frame, the targeted
    * order-statistic picks — hit by the constant-key
    * binnedRefBoundaries path of q224/q229).
    *
    * The name fingerprint alone is SPOOFABLE (ADVICE r12: a future
    * query naming a genuinely global data window's columns `__sp`
    * would silently drop out of the audit), so the exemption also
    * requires the STRUCTURE the offsets chain cannot exist without:
    * the window's child subtree must contain an aggregate GROUPED BY
    * `__slice` — the per-(slice, key) totals/count roll-up that
    * bounds the windowed frame to ≤ slices × keys rows. A data-sized
    * window has no such aggregate under it (its input is the data,
    * not a slice roll-up), whatever its columns are named. */
  private def isSliceOffsetsChain(w: WindowExec): Boolean =
    w.orderSpec.nonEmpty &&
      w.orderSpec.forall(_.child.references.forall(_.name == "__slice")) &&
      w.windowExpression.forall(_.references.map(_.name).forall(n =>
        n.startsWith("__slice_agg_") || n == "__sp" || n == "__cnt" ||
          n == "__slice")) &&
      hasSliceGroupedAggregate(w.child)

  /** The structural half of the exemption, AQE-transparent:
    * `QueryStageExec` is a LEAF wrapper, so on a post-execution
    * adaptive plan the `__slice`-grouped aggregate hides inside a
    * materialized stage and a plain `collectFirst` would flag
    * legitimate offsets chains (ADVICE r13) — recurse into
    * `.plan` of every stage node the traversal meets. */
  private def hasSliceGroupedAggregate(p: SparkPlan): Boolean =
    p.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.groupingExpressions.exists(
            _.references.exists(_.name == "__slice")) => a
    }.isDefined ||
      p.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q.plan
      }.exists(hasSliceGroupedAggregate)

  /** Unpartitioned WindowExecs in a plan, including inside AQE wrappers
    * and subqueries. */
  def unpartitionedWindows(plan: SparkPlan): Seq[WindowExec] = {
    val here = plan.collect {
      case a: AdaptiveSparkPlanExec => unpartitionedWindows(a.inputPlan)
      case w: WindowExec
          if w.partitionSpec.isEmpty && !isSliceOffsetsChain(w) => Seq(w)
    }.flatten
    // subqueries (scalar/IN) hold their own plans
    val subs = plan.collect { case p =>
      p.subqueries.flatMap(unpartitionedWindows)
    }.flatten
    here ++ subs
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local()
    var found = 0
    var planErrors = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        unpartitionedWindows(plan).foreach { w =>
          found += 1
          println(s"UNPARTITIONED_WINDOW query=$name order=${w.orderSpec.mkString(",")} exprs=${w.windowExpression.mkString(";").take(200)}")
        }
      } catch {
        // a query that cannot plan was NOT audited — that must fail
        // the sweep, not shrink it (a clean exit over a partial audit
        // would hide exactly the regression this tool hunts)
        case e: Throwable =>
          planErrors += 1
          println(s"PLAN_ERROR query=$name err=${e.getMessage}")
      }
    }
    println(s"window_audit_done found=$found plan_errors=$planErrors")
    spark.stop()
    if (found > 0 || planErrors > 0) sys.exit(1)
  }
}
