package graft

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.WindowExec

import graft.queries.{FixtureCache, QuerySpec}

/** The per-gate census: builds and runs every gate of
  * [[SparkEntry.specs]] (or those whose names start with one of the
  * args) and writes one JSON line per gate, in `specs` order:
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> \
  *     tools/runmain.sh graft.GateCensus [prefix ...] > census.jsonl
  *
  * (data default: the sf0.01 testdata). `tools/plandiff.py` names the gates whose
  * plan facts or counts differ between two census files. The main
  * exits 1 if a gate throws or plans an unpartitioned window that
  * [[unpartitionedWindows]] does not exempt; every gate is still
  * recorded. */
object GateCensus {
  /** One gate. Seconds vary from run to run; the other fields are a
    * function of the build and the data.
    *  - `buildS`, `eagerJobs`: building the DataFrame, and the Spark
    *    jobs that run inside the build (checkpoints, counts, quantile
    *    passes).
    *  - `analyzeS`, `optimizeS`, `physicalS`: each lazy phase of the
    *    built plan, forced in turn. Building a Dataset already analyzes
    *    it, so `analyzeS` holds only what analysis left lazy.
    *  - `dumpSort`: [[plans.OrderedDumpSortRule]] rewrote a global
    *    sort into a local sort over one partition.
    *  - `windows`: each unpartitioned window that is not exempt,
    *    masked.
    *  - `plan`: the masked `explain("formatted")` text, taken before
    *    the gate runs.
    *  - `jobs`, `runS`, `shuffleBytes`: one run of the built plan
    *    through `toRdd.count()`, as Bench times it.
    *  - `error`: what the gate threw; the fields it did not reach keep
    *    their defaults. */
  final case class Record(gate: String, buildS: Double = 0,
      eagerJobs: Int = 0, analyzeS: Double = 0, optimizeS: Double = 0,
      physicalS: Double = 0, dumpSort: Boolean = false,
      windows: Seq[String] = Nil, plan: String = "", jobs: Int = 0,
      runS: Double = 0, shuffleBytes: Long = 0,
      error: Option[String] = None)

  /** A census failed if a gate threw or planned an unexempted
    * unpartitioned window. */
  def failed(records: Seq[Record]): Boolean =
    records.exists(r => r.error.nonEmpty || r.windows.nonEmpty)

  /** Builds and runs one gate over `sfDir`, on a session whose cache is
    * first dropped as Bench drops it. */
  def record(spark: SparkSession, meter: RunMeter, sfDir: String,
      spec: QuerySpec): Record = {
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    }
    Sessions.dropCached(spark)
    meter.reset()
    try {
      val (df, buildS) = timed(spec.fn(spark, sfDir))
      val eagerJobs = meter.read().jobs
      val qe = df.queryExecution
      val (_, analyzeS) = timed(qe.assertAnalyzed())
      val (optimized, optimizeS) = timed(qe.optimizedPlan)
      val (physical, physicalS) = timed(qe.executedPlan)
      val dumpSort = optimized.collect {
        case Sort(_, false, Repartition(1, true, _), _) => true
      }.nonEmpty
      val windows = unpartitionedWindows(physical).map(w =>
        mask(s"order=${w.orderSpec.mkString(",")} " +
          s"exprs=${w.windowExpression.mkString(";")}"))
      val plan = mask(qe.explainString(FormattedMode))
      meter.reset()
      val (_, runS) = timed(qe.toRdd.count())
      val m = meter.read()
      Record(spec.name, buildS, eagerJobs, analyzeS, optimizeS, physicalS,
        dumpSort, windows, plan, m.jobs, runS, m.shuffleBytes)
    } catch { case NonFatal(e) =>
      Record(spec.name, error = Some(e.toString))
    }
  }

  /** Masks what differs between two explains of the same plan:
    *  - expression ids: `#123` → `#N`;
    *  - the counter in a lambda variable's name:
    *    `lambda x_51#N` → `lambda x_N#N`;
    *  - exchange and broadcast plan ids: `plan_id=42` → `plan_id=N`;
    *  - checkpoint RDD ids and the source lines of their call sites:
    *    `MapPartitionsRDD[104] … at Profile.scala:981` →
    *    `MapPartitionsRDD[N] … at Profile.scala:N` (a line moved by an
    *    edit is not a plan change);
    *  - the JVM names of the lambdas that typed operators such as
    *    `MapPartitions` print: `$$Lambda/0x…@1a2b` → `$$Lambda@N`;
    *  - identity hashes in the default `toString` of arrays and
    *    objects held by literals: `[[D@54c1dfd8` → `[[D@N`;
    *  - the process-id suffix of a per-process fixture dir (q34, q48):
    *    `/tmp/graft_wkt_scan_123_4567` → `/tmp/graft_wkt_scan_123`. */
  def mask(plan: String): String =
    plan.replaceAll("#\\d+", "#N")
      .replaceAll("(lambda \\w+?)_\\d+(?=#)", "$1_N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("(?<=\\.scala:)\\d+", "N")
      .replaceAll("\\$\\$Lambda[^\\s,)\\]]*", "\\$\\$Lambda@N")
      .replaceAll("(?<=\\w)@[0-9a-f]+\\b", "@N")
      .replaceAll("(/tmp/graft_[a-z_]+_\\d+)_\\d+", "$1")

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
      case a: BaseAggregateExec
          if a.groupingExpressions.exists(
            _.references.exists(_.name == "__slice")) => a
    }.isDefined ||
      p.collect { case q: QueryStageExec => q.plan }
        .exists(hasSliceGroupedAggregate)

  /** Unpartitioned WindowExecs in a plan, including inside AQE wrappers
    * and subqueries, less the exempt offsets chains. */
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
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val json = JsonMapper.builder().addModule(DefaultScalaModule)
      .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE).build()
    val spark = Sessions.local()
    // forcing the specs runs every gate's object init, which registers
    // its fixture builders; building every fixture root first keeps
    // fixture builds out of each gate's counts, as in Bench
    val specs = SparkEntry.specs
    FixtureCache.prewarmAll(spark, sfDir)
    val meter = RunMeter.attach(spark)
    val records = specs
      .filter(sp => args.isEmpty || args.exists(sp.name.startsWith))
      .map { sp =>
        val r = record(spark, meter, sfDir, sp)
        println(json.writeValueAsString(r))
        r
      }
    spark.stop()
    if (failed(records)) sys.exit(1)
  }
}
