package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-stream analytics over the (user, ts, type) shape — the
  * funnel/cohort layer a product pipeline runs beside the ingest.
  * Both operators are pure keyed aggregate/join compositions: shuffle
  * on the user key only, no windows, no driver state — a billion-user
  * event log runs them at join speed. */
object EventAnalytics {

  /** Ordered-step funnel: for every user who reached `steps.head`,
    * the first time they completed each subsequent step STRICTLY
    * after the previous one (the classic conversion definition —
    * out-of-order events don't count). Output: (userCol,
    * t_<step>...) in integer microseconds, null = dropped off at
    * that step. Each step is one keyed aggregate + one keyed join;
    * nothing is ordered globally. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame =
    funnelImpl(events, userCol, tsCol, typeCol, steps, None)

  /** TIME-BOUNDED funnel (r15): [[funnel]] with a conversion window —
    * step i counts only when it lands strictly after step i−1 AND
    * within `maxGapMicros` of it (the product-analytics definition:
    * a purchase three weeks after the click is not that click's
    * conversion). Each step stays one keyed aggregate + one keyed
    * join; the gap bound is a residual filter on the same join. Note
    * the semantics are first-qualifying-PER-STEP (each step picks its
    * earliest qualifying time given the previous step's committed
    * time), the same greedy chain as the unbounded form — not a
    * global search over all chains. */
  def funnelWithin(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      maxGapMicros: Long): DataFrame = {
    require(maxGapMicros > 0, "funnelWithin: maxGapMicros must be > 0")
    funnelImpl(events, userCol, tsCol, typeCol, steps,
      Some(maxGapMicros))
  }

  private def funnelImpl(events: DataFrame, userCol: String,
      tsCol: String, typeCol: String, steps: Seq[String],
      maxGapMicros: Option[Long]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val m = unix_micros(col(tsCol))
    def stepTimes(st: String) =
      events.filter(col(typeCol) === st).select(col(userCol), m.as("__t"))
    val first = stepTimes(steps.head)
      .groupBy(col(userCol)).agg(min(col("__t")).as(s"t_${steps.head}"))
    steps.zipWithIndex.drop(1).foldLeft(first) { case (acc, (st, i)) =>
      val prev = s"t_${steps(i - 1)}"
      val within = maxGapMicros
        .map(g => col("__t") <= col(prev) + g).getOrElse(lit(true))
      val nxt = stepTimes(st)
        .join(acc.select(col(userCol), col(prev)), Seq(userCol))
        .filter(col("__t") > col(prev) && within)
        .groupBy(col(userCol)).agg(min(col("__t")).as(s"t_$st"))
      acc.join(nxt, Seq(userCol), "left")
    }
  }

  /** Weekly retention cohorts: users grouped by the ISO week of their
    * first event; `n_users` = distinct users from that cohort active
    * in week `cohort + week_offset`. Week truncation is ISO-Monday in
    * both Spark and DuckDB, and the offset is exact integer day
    * arithmetic (both endpoints are week-truncated, so div 7 is
    * always exact). */
  def retentionWeeks(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val cohorts = events.groupBy(col(userCol))
      .agg(min(col(tsCol)).as("__first"))
      .select(col(userCol),
        date_trunc("week", col("__first")).cast("date").as("cohort_week"))
    val active = events.select(col(userCol),
        date_trunc("week", col(tsCol)).cast("date").as("__w"))
      .distinct()
    active.join(cohorts, Seq(userCol))
      .select(col("cohort_week"),
        expr("datediff(__w, cohort_week) div 7").cast("int")
          .as("week_offset"),
        col(userCol))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col(userCol)).as("n_users"))
  }

  /** Centi-unit view of a 2-decimal measure: exact integer both
    * engines (the repo's micro-units discipline, 100× here because
    * the source carries 2 decimals). */
  private def centi(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("long")

  /** Per-entity rolling features — the feature-engineering pass a
    * training pipeline runs over an event log: row number, previous
    * value, step delta, and an `n`-row trailing sum/min/max, all in
    * exact centi-units. Every window is PARTITIONed by the entity and
    * totally ordered by (ts, idCol) — state per key is the frame, so
    * the operator scales with the number of entities, not the log. */
  def rollingFeatures(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1)
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val wf = w.rowsBetween(-(n - 1), Window.currentRow)
    val v = centi(col(valCol))
    events.select(col(userCol), col(idCol), col(tsCol), v.as("__v"))
      .select(col(userCol), col(idCol),
        row_number().over(w).as("rn"),
        col("__v").as("v_centi"),
        lag(col("__v"), 1).over(w).as("lag_centi"),
        (col("__v") - lag(col("__v"), 1).over(w)).as("delta_centi"),
        sum(col("__v")).over(wf).as(s"roll${n}_sum_centi"),
        min(col("__v")).over(wf).as(s"roll${n}_min_centi"),
        max(col("__v")).over(wf).as(s"roll${n}_max_centi"))
  }

  /** Per-entity daily resample with forward fill: aggregate to the
    * day grain, densify over each entity's [min_day, max_day] grid
    * (`sequence` + explode — the grid is generated, never joined
    * against a calendar table), and carry the last observed value
    * across gaps with an IGNORE NULLS running window. `filled_centi`
    * is never null (each entity's first grid day is observed by
    * construction). Grid length per entity is bounded by the span of
    * its own history — the scale knob is entities, not days. */
  def resampleDaily(events: DataFrame, userCol: String, tsCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDay = events
      .groupBy(col(userCol), col(tsCol).cast("date").as("day"))
      .agg((sum(col(valCol).cast("decimal(18,2)")) * 100).cast("long")
        .as("__s"))
    val grid = byDay.groupBy(col(userCol))
      .agg(min(col("day")).as("__d0"), max(col("day")).as("__d1"))
      .select(col(userCol),
        explode(expr("sequence(__d0, __d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy(col(userCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(byDay, Seq(userCol, "day"), "left")
      .select(col(userCol), col("day"),
        col("__s").isNotNull.as("observed"),
        col("__s").as("day_sum_centi"),
        last(col("__s"), ignoreNulls = true).over(w).as("filled_centi"))
  }

  /** Exact per-key running total that is IMMUNE to key skew — the
    * two-pass distributed prefix sum (TrainingPrep's packing trick)
    * generalized per key. A plain `sum OVER (PARTITION BY key ORDER
    * BY ord)` materializes each key's whole history in ONE task; a
    * 99%-hot key strands the stage on that straggler, and AQE cannot
    * split a window partition (measured: SkewStress topk/running
    * arms — the one aggregation shape Spark's own mitigations don't
    * cover, unlike count/sum map-side combine, count-DISTINCT's
    * (k,v) exchange, and rank-limit WindowGroupLimit pushdown).
    *
    * Plan: slice the NUMERIC order column into P equi-depth buckets
    * whose boundaries come from a one-pass deterministic quantile
    * summary (Greenwald–Khanna, no RNG) — the slice is then a pure
    * FUNCTION of the row, so every branch of the self-join assigns
    * identically. (`spark_partition_id()` after `repartitionByRange`
    * is NOT that: the two exchanges behind the window branch and the
    * totals branch may sample different range boundaries unless the
    * frame is cached — the packByTokenBudget trade this op avoids.)
    * Then (1) a local running sum per (slice, key) — the exchange
    * keys on (slice, key), which the hot key's slice spread keeps
    * uniform; and (2) per-(slice, key) totals, windowed per key over
    * the slice order into offsets (a window of ≤ P rows per key) and
    * joined back. Exactness needs `ord` unique per key (the same
    * contract any ORDER BY window has) and non-null; `ord` must be
    * numeric/date/timestamp (quantile-summarizable). Result column:
    * `outCol` = running sum of `valueCol`. */
  def runningTotalSkewSafe(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, outCol: String): DataFrame =
    runningAggSkewSafe(df, keyCol, ordCol, valueCol, outCol, "sum")

  /** The [[runningTotalSkewSafe]] algebra for any ASSOCIATIVE
    * combine — `op` ∈ sum | min | max (running totals, cumulative
    * extrema). The per-slice offset is the op over earlier slices'
    * per-slice aggregates; a null offset (first slice of a key)
    * passes the local value through, which is the correct identity
    * for all three ops. */
  def runningAggSkewSafe(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, outCol: String, op: String): DataFrame =
    runningAggsSkewSafe(df, keyCol, ordCol,
      Seq((valueCol, op, outCol)))

  /** N running aggregates in ONE two-pass plan — the same slice
    * algebra as [[runningAggSkewSafe]] (one local window keyed on
    * (slice, key), one ≤P-row offsets window per key, one join back),
    * shared across every (valueCol, op, outCol) triple instead of
    * re-sliced per aggregate. `op` ∈ sum | min | max | count | last
    * (count = running count of NON-NULL values, the moment-tuple n;
    * last = running last NON-NULL value, the as-of carry behind
    * [[asofJoinSkewSafe]]). This is
    * the moment-tuple building block: running avg/variance are
    * derived from (count, sum, sum-of-squares) computed here in one
    * pass ([[runningMomentsSkewSafe]]). */
  def runningAggsSkewSafe(df: DataFrame, keyCol: String, ordCol: String,
      aggs: Seq[(String, String, String)],
      bounds: Option[Array[Double]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(aggs.nonEmpty, "runningAggsSkewSafe: need at least one agg")
    // (slice derivation shared with the order-statistic ops below)
    def aggFn(op: String): Column => Column = op match {
      case "sum" => c => sum(c)
      case "min" => c => min(c)
      case "max" => c => max(c)
      case "count" => c => count(c)
      // running LAST NON-NULL — the as-of carry. As a window function
      // over the ord-ordered running frame this is deterministic.
      case "last" => c => last(c, ignoreNulls = true)
      case other => throw new IllegalArgumentException(
        s"runningAggsSkewSafe: op must be sum|min|max|count|last, got $other")
    }
    // the per-(slice,key) TOTAL is op-specific too: group-level
    // `last` would depend on unspecified row order, so the slice's
    // last non-null is max_by over the ord (null values contribute a
    // null ordering key, which max_by skips)
    def totalsFn(op: String): Column => Column = op match {
      case "last" => c => max_by(c, when(c.isNotNull, col(ordCol)))
      case other => aggFn(other)
    }
    // merging PARTIAL slice aggregates is op-specific: counts merge
    // by SUM (a count of per-slice counts would count slices); slice
    // lasts merge by last-non-null over the slice order
    def offsetFn(op: String): Column => Column = op match {
      case "count" => c => sum(c)
      case "last" => c => last(c, ignoreNulls = true)
      case other => aggFn(other)
    }
    def combine(op: String): (Column, Column) => Column = op match {
      // null-safe like SUM OVER: an all-null (slice,key) prefix makes
      // the local running value null, and plain `a + b` would null the
      // combined running sum where the window form returns the earlier
      // slices' sum. least/greatest already skip nulls; + does not.
      // (count is never null, but keep the same guard for uniformity.)
      case "sum" | "count" => (a, b) => coalesce(a + b, b, a)
      case "min" => (a, b) => least(a, b)
      case "last" => (a, b) => coalesce(a, b) // local wins, else carry
      case _ => (a, b) => greatest(a, b)
    }
    val sliced = df.withColumn("__slice",
      sliceColumn(df, ordCol, bounds))
    val wLocal = Window.partitionBy(col("__slice"), col(keyCol))
      .orderBy(col(ordCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = aggs.zipWithIndex.foldLeft(sliced) {
      case (d, ((v, op, _), i)) =>
        d.withColumn(s"__run_local_$i", aggFn(op)(col(v)).over(wLocal))
    }
    val totals = sliced.groupBy(col("__slice"), col(keyCol))
      .agg(totalsFn(aggs.head._2)(col(aggs.head._1)).as("__slice_agg_0"),
        aggs.zipWithIndex.tail.map { case ((v, op, _), i) =>
          totalsFn(op)(col(v)).as(s"__slice_agg_$i") }: _*)
    val wOff = Window.partitionBy(col(keyCol)).orderBy(col("__slice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // fresh exprIds on the offsets side (`as` re-aliases): local and
    // offsets share the `sliced` lineage, and a Seq-key self-join over
    // a HOF-derived grouping column trips relation-dedup attribute
    // binding — an explicit disambiguated condition does not
    val offsets = aggs.zipWithIndex.foldLeft(totals) {
        case (d, ((_, op, _), i)) =>
          d.withColumn(s"__offset_$i",
            offsetFn(op)(col(s"__slice_agg_$i")).over(wOff))
      }
      .select(col("__slice").as("__oslice") +: col(keyCol).as("__okey") +:
        aggs.indices.map(i => col(s"__offset_$i")): _*)
    val joined = local.join(offsets,
      col("__slice") === col("__oslice") && col(keyCol) === col("__okey"))
    val combined = aggs.zipWithIndex.foldLeft(joined) {
      case (d, ((_, op, out), i)) =>
        d.withColumn(out,
          when(col(s"__offset_$i").isNull, col(s"__run_local_$i"))
            .otherwise(combine(op)(col(s"__run_local_$i"),
              col(s"__offset_$i"))))
    }
    combined.drop(Seq("__slice", "__oslice", "__okey") ++
      aggs.indices.flatMap(i =>
        Seq(s"__run_local_$i", s"__offset_$i")): _*)
  }

  /** Skew-safe running MOMENTS per key — the algebraic-composite
    * generalization of [[runningAggSkewSafe]]: one two-pass plan
    * computes the (n, Σx, Σx²) moment tuple as three componentwise-
    * additive running sums over the same slices, and the derived
    * running mean / population variance come out as exact integer
    * floor arithmetic (engine-portable — no float accumulation
    * order):
    *
    *   `run_n`     running count of non-null values
    *   `run_sum`   running Σx (long)
    *   `avg_micro` floor(1e6·Σx / n)
    *   `var_floor` floor((n·Σx² − (Σx)²) / n²)  — population variance
    *
    * Σx² rides DECIMAL(38,0) (a value of 1e9 squared times 1e9 rows
    * per key still fits), and the n·Q − S² numerator is evaluated in
    * decimal before the integral division, so no intermediate wraps
    * long. Contract: `valueCol` integral; rows where it is null are
    * excluded from all four outputs (SUM/COUNT(expr) semantics). */
  def runningMomentsSkewSafe(df: DataFrame, keyCol: String,
      ordCol: String, valueCol: String): DataFrame =
    runningAggsSkewSafe(
      df.withColumn("__sq",
        col(valueCol).cast("decimal(38,0)") * col(valueCol)),
      keyCol, ordCol,
      Seq((valueCol, "count", "run_n"), (valueCol, "sum", "run_sum"),
        ("__sq", "sum", "__run_q")))
      .withColumn("avg_micro",
        expr("(CAST(1000000 AS DECIMAL(38,0)) * run_sum) div run_n"))
      .withColumn("var_floor",
        expr("(CAST(run_n AS DECIMAL(38,0)) * __run_q - " +
          "CAST(run_sum AS DECIMAL(38,0)) * run_sum) div " +
          "(CAST(run_n AS DECIMAL(38,0)) * run_n)"))
      .drop("__sq", "__run_q")

  /** Skew-safe EXACT grouped median — the order-statistic shape that,
    * like the running total, has no built-in mitigation: an exact
    * per-group median needs every group member ranked in value order,
    * and a plain RANK() OVER (PARTITION BY key ORDER BY v) strands a
    * mega-key group's whole membership in one task (top-k gets
    * WindowGroupLimit pushdown; a middle order statistic does not).
    * Here the per-group rank IS a running count over the two-pass
    * slice algebra ([[runningAggsSkewSafe]] op=count), group sizes
    * ride a ≤|groups| broadcast frame, and the two middle members
    * (ranks (n+1) div 2 and n div 2 + 1 — equal when n is odd) are
    * filtered out and pivoted to one row per group. Output:
    * (key, n, median_lo, median_hi) — callers wanting the
    * conventional even-n midpoint take (lo+hi)/2 in their own
    * numeric discipline; emitting both keeps the op integer-exact.
    *
    * Contract: `ordCol` a caller-built UNIQUE total order aligned
    * with `valueCol` (value-major, e.g. value·W + tiebreak) — the
    * same total-order contract every exact order statistic has. */
  def groupMedianSkewSafe(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String,
      knownGroups: Option[Long] = None): DataFrame =
    pickGlobalRanks(df, keyCol, ordCol, valueCol, 2,
      totals => totals.withColumn("__rk_t",
        explode(array(expr("(__n + 1) div 2"), expr("__n div 2 + 1"))))
        .distinct(),
      knownGroups = knownGroups)
      .groupBy(col(keyCol))
      .agg(max(col("__n")).as("n"),
        min(col(valueCol)).as("median_lo"),
        max(col(valueCol)).as("median_hi"))

  /** Skew-safe EXACT grouped percentiles — [[groupMedianSkewSafe]]
    * generalized to any discrete-percentile set (the per-group
    * p50/p95/p99 a pipeline monitors): for each `p` in micros
    * (1..1_000_000], the percentile_disc member is the one at rank
    * ceil(p·n / 10⁶) = (p·n + 10⁶−1) div 10⁶ of the `ordCol` order —
    * picked by joining the skew-safe ranks against a ≤|groups|·|ps|
    * target frame. Output: (key, p_micro, n, <valueCol>), one row per
    * (group, percentile), integer-exact. Same unique value-major
    * `ordCol` contract as the median. */
  def groupPercentilesSkewSafe(df: DataFrame, keyCol: String,
      ordCol: String, valueCol: String, pMicros: Seq[Long],
      knownGroups: Option[Long] = None): DataFrame = {
    require(pMicros.nonEmpty &&
      pMicros.forall(p => p > 0 && p <= 1000000L),
      "percentiles must be micros in (0, 1000000]")
    pickGlobalRanks(df, keyCol, ordCol, valueCol,
      pMicros.distinct.size,
      totals => totals
        .withColumn("p_micro",
          explode(typedLit(pMicros.distinct.sorted)))
        .withColumn("__rk_t",
          expr("greatest(CAST(1 AS BIGINT), " +
            "(p_micro * __n + 999999) div 1000000)")),
      knownGroups = knownGroups)
      .select(col(keyCol), col("p_micro"), col("__n").as("n"),
        col(valueCol))
  }

  /** Skew-safe exact PERCENTILE_CONT — the INTERPOLATED companion to
    * [[groupPercentilesSkewSafe]] (SQL's other percentile): the
    * continuous percentile sits at zero-based position p·(n−1) of the
    * `ordCol` order and linearly interpolates between the two
    * bracketing members. Both brackets ride the same targeted-pick
    * plan (TWO rank targets per (group, p): lo = pos div 10⁶ + 1,
    * hi = min(n, lo+1)), and the interpolation stays integral in
    * micro-value-units:
    *
    *   value_micro = 10⁶·v_lo + (v_hi − v_lo)·(pos mod 10⁶)
    *
    * — exact, engine-portable (no float division), frac = 0
    * degenerates to 10⁶·percentile_disc′ (the zero-based pick).
    * Position and interpolation arithmetic ride DECIMAL(38,0)
    * (p·(n−1) overflows long at n ≈ 9.2e12; 10⁶·v at |v| ≥ 9.2e12).
    * Output: (key, p_micro, n, value_micro), one row per
    * (group, percentile). Same unique value-major `ordCol` contract
    * as every exact order statistic; p in [0, 10⁶]. */
  def percentileContSkewSafe(df: DataFrame, keyCol: String,
      ordCol: String, valueCol: String, pMicros: Seq[Long]): DataFrame = {
    require(pMicros.nonEmpty &&
      pMicros.forall(p => p >= 0 && p <= 1000000L),
      "percentiles must be micros in [0, 1000000]")
    val d38 = "decimal(38,0)"
    val picked = pickGlobalRanks(df, keyCol, ordCol, valueCol,
      2 * pMicros.distinct.size,
      totals => totals
        .withColumn("p_micro",
          explode(typedLit(pMicros.distinct.sorted)))
        .withColumn("__pos",
          expr(s"CAST(p_micro AS $d38) * (__n - 1)"))
        .withColumn("__end", explode(array(lit(0L), lit(1L))))
        .withColumn("__rk_t", expr(
          "CAST(least(CAST(__n AS DECIMAL(38,0)), " +
            "__pos div 1000000 + 1 + __end) AS BIGINT)")))
    picked.groupBy(col(keyCol), col("p_micro"))
      .agg(max(col("__n")).as("n"), max(col("__pos")).as("__pos"),
        max(when(col("__end") === 0L, col(valueCol))).as("__vlo"),
        max(when(col("__end") === 1L, col(valueCol))).as("__vhi"))
      .withColumn("value_micro", expr(
        s"CAST(CAST(__vlo AS $d38) * 1000000 + " +
          "(__vhi - __vlo) * (__pos % 1000000) AS BIGINT)"))
      .select(col(keyCol), col("p_micro"), col("n"),
        col("value_micro"))
  }

  /** Skew-safe exact WEIGHTED grouped percentiles — the rank targets
    * of [[groupPercentilesSkewSafe]] moved from the count axis to the
    * cumulative-WEIGHT axis: the p-percentile member of a group is
    * the first member (in `ordCol` order) whose running weight
    * reaches ceil(p·W / 10⁶), W = the group's total weight. This is
    * the token-weighted distribution monitor of a training pipeline —
    * "the document length below which half the TOKENS sit" is a
    * weighted median, not a median — and the same targeted-pick plan
    * serves it: per-(slice, key) weight sums resolve each weight
    * target to (slice, local weight rank) with no data movement, and
    * the pick is the row whose local (cw−w, cw] interval contains the
    * target (the intervals partition the weight axis, so each target
    * picks exactly one row; for weight ≡ 1 this degenerates to
    * [[groupPercentilesSkewSafe]] — asserted in the spec).
    *
    * The target arithmetic rides DECIMAL(38,0): p_micro·W overflows
    * long at W ≥ 2⁶³/10⁶ ≈ 9.2e12 — a few trillion tokens, a scale a
    * 100 TB corpus actually reaches. Output: (key, p_micro,
    * w_total, <valueCol>), one row per (group, percentile).
    * Contracts: `weightCol` positive integers (enforced); `ordCol` a
    * caller-built unique value-major total order. */
  def groupWeightedPercentilesSkewSafe(df: DataFrame, keyCol: String,
      ordCol: String, valueCol: String, weightCol: String,
      pMicros: Seq[Long]): DataFrame = {
    require(pMicros.nonEmpty &&
      pMicros.forall(p => p > 0 && p <= 1000000L),
      "percentiles must be micros in (0, 1000000]")
    pickGlobalRanks(df, keyCol, ordCol, valueCol,
      pMicros.distinct.size,
      totals => totals
        .withColumn("p_micro",
          explode(typedLit(pMicros.distinct.sorted)))
        .withColumn("__rk_t",
          expr("greatest(CAST(1 AS BIGINT), CAST(" +
            "(CAST(p_micro AS DECIMAL(38,0)) * __n + 999999) " +
            "div 1000000 AS BIGINT))")),
      weightCol = Some(weightCol))
      .select(col(keyCol), col("p_micro"), col("__n").as("w_total"),
        col(valueCol))
  }

  /** Skew-safe per-row RANK FEATURES — the window shapes that assign
    * an output to EVERY row of every group and so cannot be rescued
    * by WindowGroupLimit (top-k only) or the targeted pick (k rows
    * only): rank, percent_rank, cume_dist, and NTILE bucket — the
    * quantile-bucket assignment behind stratified splits. One
    * two-pass plan: the per-key rank is the running COUNT over the
    * slice algebra ([[runningAggsSkewSafe]]), group sizes ride a
    * ≤|groups| frame joined back (no hint — AQE broadcasts when it
    * fits, degrades keyed when |groups| is corpus-scale where skew
    * is moot), and the features derive by exact integer arithmetic:
    *
    *   `rank`        1-based position in `ordCol` order (unique ord)
    *   `n`           group size
    *   `pr_micro`    floor(10⁶·(rank−1)/(n−1)); 0 when n = 1
    *   `cume_micro`  floor(10⁶·rank/n)
    *   `bucket`      NTILE(buckets) with SQL remainder semantics —
    *                 the first n mod b buckets take ceil(n/b) rows
    *                 (for b > n this degenerates to bucket = rank,
    *                 matching NTILE exactly)
    *
    * Same unique non-null `ordCol` contract as every exact rank. */
  def rankFeaturesSkewSafe(df: DataFrame, keyCol: String,
      ordCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, "rankFeaturesSkewSafe: buckets must be >= 1")
    val ranked = runningAggsSkewSafe(df, keyCol, ordCol,
      Seq((ordCol, "count", "rank")))
    val sizes = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol).as("__nk"), col("n"))
    ranked.join(sizes, col(keyCol) === col("__nk")).drop("__nk")
      .withColumn("pr_micro",
        when(col("n") === 1, lit(0L)).otherwise(
          expr("(1000000 * (rank - 1)) div (n - 1)")))
      .withColumn("cume_micro", expr("(1000000 * rank) div n"))
      .withColumn("bucket", expr(
        s"""CASE WHEN rank <= (n % $buckets) * (n div $buckets + 1)
           | THEN (rank - 1) div (n div $buckets + 1) + 1
           | ELSE n % $buckets + (rank - 1 - (n % $buckets) *
           |   (n div $buckets + 1)) div (n div $buckets) + 1
           |END""".stripMargin.replace('\n', ' ')))
  }

  /** Skew-safe LAG — the per-row predecessor value, the last
    * sequential window shape in the family: `lag(v) OVER (PARTITION
    * BY key ORDER BY ord)` strands a mega-key exactly like the
    * running total (no limit to push, no partial to combine, every
    * row needs an output). Slice algebra: the local lag inside
    * (slice, key) answers every row except each slice's FIRST, whose
    * predecessor is the previous non-empty slice's LAST value — which
    * is precisely the op=last offsets chain ([[runningAggsSkewSafe]]):
    * per-slice max_by totals, slice-ordered running last, coalesce.
    * `leadSkewSafe` is the mirror on negated ord. Contracts: unique
    * non-null numeric `ordCol` per key; null VALUES are returned as
    * stored (the predecessor's value, null or not) — unlike op=last,
    * the lag of a row after a null-valued row is null, matching the
    * window function. */
  def lagSkewSafe(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, outCol: String,
      bounds: Option[Array[Double]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // To honor null VALUES (a plain `last` carry would skip them),
    // carry the predecessor as a (ord, value) struct — never null
    // for an existing row — and project the value at the end.
    val sliced = df.withColumn("__slice",
      sliceColumn(df, ordCol, bounds))
    val wLoc = Window.partitionBy(col("__slice"), col(keyCol))
      .orderBy(col(ordCol))
    val pair = struct(col(ordCol).as("o"), col(valueCol).as("v"))
    val local = sliced.withColumn("__lp", lag(pair, 1).over(wLoc))
    // per-(slice,key) last pair, then the running last over earlier
    // slices per key (≤P rows per key)
    val totals = sliced.groupBy(col("__slice"), col(keyCol))
      .agg(max_by(pair, col(ordCol)).as("__sp"))
    val wOff = Window.partitionBy(col(keyCol)).orderBy(col("__slice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__op", last(col("__sp"), ignoreNulls = true).over(wOff))
      .select(col("__slice").as("__oslice"), col(keyCol).as("__okey"),
        col("__op"))
    local.join(offsets,
        col("__slice") === col("__oslice") && col(keyCol) === col("__okey"))
      .withColumn(outCol,
        coalesce(col("__lp"), col("__op")).getField("v"))
      .drop("__slice", "__oslice", "__okey", "__lp", "__op")
  }

  /** Skew-safe LEAD — [[lagSkewSafe]] mirrored on negated ord. The
    * negation must stay exact through the double-valued quantile
    * slicing, so `ordCol` magnitudes must sit within 2⁵³ (every
    * composite ord in this library does). `bounds` — when shared —
    * are given in terms of the ORIGINAL `ordCol` (the caller's
    * frame), negated and reversed here to match the mirrored order. */
  def leadSkewSafe(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, outCol: String,
      bounds: Option[Array[Double]] = None): DataFrame = {
    val neg = "__neg_" + ordCol
    lagSkewSafe(df.withColumn(neg, -col(ordCol)), keyCol, neg,
      valueCol, outCol,
      bounds.map(_.map(-_).reverse)).drop(neg)
  }

  /** Skew-safe AS-OF join (backward): for each probe row, the value
    * of the latest quote with ord ≤ the probe's ord, per key — the
    * point-in-time join behind feature lookups and market-data
    * alignment. The plain plan (union + per-key LAST_VALUE window, or
    * a sort-merge per key) strands a hot key's whole history in one
    * task exactly like the running total; this rides the same slice
    * algebra via the running-last op: quotes carry their value, probes
    * carry null, and the running last non-null at each probe row IS
    * its as-of match ([[runningAggsSkewSafe]] op=last — local
    * last-ignoring-nulls inside (slice, key), per-slice max_by totals,
    * slice-ordered carry, coalesce combine).
    *
    * Contracts: `ordCol` numeric on BOTH frames, encoded by the
    * caller so that at one instant quotes sort BEFORE probes (e.g.
    * ord = 2·t for quotes, 2·t + 1 for probes — "quote at the same
    * timestamp is visible", DuckDB ASOF `>=` semantics) and quote
    * ords are unique per key (pre-aggregate same-instant quotes);
    * probe–probe ties are harmless (probes carry null). Probes with
    * no earlier quote get null. Output: the probe frame + `outCol`. */
  def asofJoinSkewSafe(probes: DataFrame, quotes: DataFrame,
      keyCol: String, ordCol: String, valueCol: String,
      outCol: String): DataFrame = {
    val vType = quotes.schema(quotes.schema.fieldIndex(valueCol)).dataType
    val extra = probes.columns.toSeq
      .filterNot(c => c == keyCol || c == ordCol)
    val pu = probes
      .withColumn("__rv", lit(null).cast(vType))
      .withColumn("__probe", lit(true))
    val qu = extra.foldLeft(
        quotes.select(col(keyCol), col(ordCol),
          col(valueCol).as("__rv"), lit(false).as("__probe"))) {
      case (d, c) =>
        d.withColumn(c, lit(null).cast(probes.schema(c).dataType))
    }
    val cols = (Seq(keyCol, ordCol) ++ extra ++ Seq("__rv", "__probe"))
      .map(col)
    runningAggsSkewSafe(
        pu.select(cols: _*).unionByName(qu.select(cols: _*)),
        keyCol, ordCol, Seq(("__rv", "last", outCol)))
      .filter(col("__probe"))
      .drop("__rv", "__probe")
  }

  /** Shared scaffold of the exact order-statistic ops — the TARGETED
    * PICK plan, which beats the generic running-rank two-pass for
    * "fetch k order statistics" shapes by shipping the data through
    * exactly ONE exchange:
    *
    *  1. per-(slice, key) COUNTS (map-side combinable, tiny);
    *  2. per-key cumulative-before and total n over ≤P count rows;
    *  3. `mkTargets(totals)` derives the wanted GLOBAL ranks per key
    *     (adding `__rk_t` and any carry columns, e.g. `p_micro`);
    *  4. each target resolves to (slice, LOCAL rank) on the count
    *     frame alone — no data movement;
    *  5. the data is locally ranked inside its (slice, key) window —
    *     the one exchange — and equi-joined against the tiny
    *     resolved-target frame.
    *
    * The target join carries a STATIC broadcast hint when it is
    * provably safe: each global rank target matches exactly ONE
    * (slice, key) count row (the rank ranges partition 1..n), so
    * |resolved| = |targets|, and the cheap |groups| count on the
    * ≤P·|groups| count frame bounds it before the hint is placed.
    * Without the hint, AQE *converts* the join to broadcast at
    * runtime but only after both sides' shuffle write — re-shipping
    * the whole locally-ranked corpus on (slice, key, rank) keys
    * (measured at the SkewStress mega-key: 217 MB total vs 93 with
    * the hint; the 93 = the data's one window exchange plus the
    * count aggregate's map-side partials, ~|mapTasks|·|slices|·|keys|
    * combined rows — the price of knowing every rank span exactly).
    * Past the bound (corpus-scale groups, where per-group membership
    * is small and skew moot) it falls back to AQE's choice. Same
    * unique value-major `ordCol` contract as every exact order
    * statistic. */
  private def pickGlobalRanks(df: DataFrame, keyCol: String,
      ordCol: String, valueCol: String,
      picksPerGroup: Int,
      mkTargets: DataFrame => DataFrame,
      weightCol: Option[String] = None,
      knownGroups: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // weighted form: ranks live on the cumulative-WEIGHT axis; the
    // unweighted form is weight ≡ 1 (count axis). Contract for the
    // weighted form: weights are POSITIVE integers (zero-weight rows
    // can never be picked — their (cw−w, cw] interval is empty — and
    // the min-weight require below rejects them early).
    val wExpr = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val sliced = df.select(
        Seq(col(keyCol), col(ordCol), col(valueCol)) ++
          weightCol.map(col): _*)
      .withColumn("__w", wExpr)
      .withColumn("__slice", sliceColumn(df, ordCol))
    val cnts = sliced.groupBy(col("__slice"), col(keyCol))
      .agg(sum(col("__w")).as("__cnt"), min(col("__w")).as("__mw"))
    val wBefore = Window.partitionBy(col(keyCol)).orderBy(col("__slice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = cnts.withColumn("__before",
      coalesce(sum(col("__cnt")).over(wBefore), lit(0L)))
    val totals = cum.groupBy(col(keyCol))
      .agg(sum(col("__cnt")).as("__n"), min(col("__mw")).as("__minw"))
    // one action on the ≤|groups| frame: the broadcast-size bound
    // (|resolved| = |targets| = |groups|·picksPerGroup exactly — each
    // rank target matches one count row) and the weight contract.
    // r20 (VERDICT r19 #1): a caller that already counted its groups
    // (the composite-domain guard aggregates the same frame anyway)
    // passes the count in and this action — one EAGER barrier per
    // call, one or two calls per gate in the kendall/median family —
    // disappears. Only honored for the unweighted form: the weighted
    // form's head() also enforces the positive-weight contract. An
    // UPPER bound is safe (the count only gates the ≤4M broadcast
    // hint; overestimating can only withhold the hint).
    val nGroups = knownGroups.filter(_ => weightCol.isEmpty).getOrElse {
      val head = totals.agg(count(lit(1)), min(col("__minw"))).head()
      if (weightCol.isDefined)
        require(head.isNullAt(1) || head.getLong(1) >= 1L,
          "pickGlobalRanks: weights must be positive integers")
      head.getLong(0)
    }
    val targets = mkTargets(totals.drop("__minw"))
      .withColumnRenamed(keyCol, "__tk")
    // resolve each global target rank to its slice + local rank on
    // the count frame alone (equi-join on key, range filter on the
    // target's slice span)
    val resolvedBare = targets.join(cum,
        col("__tk") === col(keyCol) &&
        col("__rk_t") > col("__before") &&
        col("__rk_t") <= col("__before") + col("__cnt"))
      .withColumn("__lrk", col("__rk_t") - col("__before"))
      .drop("__tk", "__cnt", "__mw", "__before")
      .withColumnRenamed("__slice", "__tslice")
      .withColumnRenamed(keyCol, "__tkey")
    val smallTargets = nGroups * picksPerGroup <= 4_000_000L
    val resolved =
      if (smallTargets) broadcast(resolvedBare) else resolvedBare
    // local cumulative weight inside each (slice, key) — for weight
    // ≡ 1 this is exactly row_number; the (cw−w, cw] intervals
    // partition the local weight axis, so each target picks one row
    val wLoc = Window.partitionBy(col("__slice"), col(keyCol))
      .orderBy(col(ordCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sliced.withColumn("__cw", sum(col("__w")).over(wLoc))
    local.join(resolved,
        col("__slice") === col("__tslice") &&
        col(keyCol) === col("__tkey") &&
        col("__cw") >= col("__lrk") &&
        col("__cw") - col("__w") < col("__lrk"))
      .drop(Seq("__slice", "__tslice", "__tkey", "__w", "__cw",
        "__lrk") ++ weightCol: _*)
  }

  /** Deterministic GK-quantile ord slices shared by the prefix-sum
    * and order-statistic families: a PURE ROW FUNCTION of `ordCol`
    * (immune to the cross-branch partitioner drift trap), built as a
    * BALANCED binary-search `when` tree — the left-fold chain form
    * built an O(P)-deep Column tree whose recursive conversion
    * overflowed the driver stack at P = 320 (reproduced in the r12
    * partitions sweep), exactly the P a cluster-scale run configures.
    * Depth and per-row comparisons are O(log P); expression size is
    * O(P). Deliberately NOT an `aggregate` HOF: a LambdaFunction
    * inside a grouping expression trips Catalyst's alias substitution
    * under project collapse (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND,
    * reproduced on Spark 4.1.2). */
  private def sliceColumn(df: DataFrame, ordCol: String,
      shared: Option[Array[Double]] = None): Column = {
    val bounds =
      shared.getOrElse(sliceBoundsFor(df, ordCol))
    val ordD = col(ordCol).cast("double")
    def sliceOf(lo: Int, hi: Int): Column = // slice known to be in [lo, hi]
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi + 1) / 2 // slice ≥ mid  ⇔  ord ≥ bounds(mid-1)
        when(ordD >= lit(bounds(mid - 1)), sliceOf(mid, hi))
          .otherwise(sliceOf(lo, mid - 1))
      }
    if (bounds.isEmpty) lit(0) else sliceOf(0, bounds.length)
  }

  /** The one-pass deterministic GK quantile bounds behind the slice
    * derivation, exposed so a COMPOSED skew-safe chain — running aggs
    * + lag/lead over the same frame and order column, as in
    * `Profile.driftReport` or the NonOverlapping expectation — can
    * estimate bounds ONCE and hand them to every stage through the
    * ops' `bounds` parameter, instead of paying one `approxQuantile`
    * pass per stage (VERDICT r12 #3). Sharing is always CORRECT:
    * the slice is a pure row function whose boundary quality affects
    * only load balance, never results, so bounds estimated on a
    * count frame serve its derived prefix/lead frames too.
    *
    * The slice count P is the session's `spark.sql.shuffle.partitions`,
    * the one source of it: no skew-safe op takes a per-call count, so
    * a run or a test that wants another P sets it at the session.
    * P − 1 bounds are asked for; P = 1 means no bounds (one slice). */
  def sliceBoundsFor(df: DataFrame, ordCol: String): Array[Double] = {
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val probs = (1 until p).map(_.toDouble / p).toArray
    if (probs.isEmpty) return Array.empty[Double]
    // r19 optimization (guide §2, scale-adaptive partitioning): the
    // GK bounds pass is a SEPARATE driver action — one more Spark job
    // that re-executes the whole upstream frame per skew-safe call,
    // and the ~30 gates composing this machinery pay it 1-4× each.
    // Slice bounds affect ONLY load balance, never results (the
    // documented sharing contract above), so when the optimizer's own
    // size estimate says the frame fits comfortably in a single
    // window partition there is nothing to balance: skip the pass and
    // run unsliced (slice ≡ 0 — the plain per-key window). The
    // threshold is a size in BYTES from the plan's statistics, not a
    // local-core-count constant: at data scale the estimate exceeds
    // it (unknown estimates default to spark.sql.defaultSizeInBytes =
    // Long.Max) and the GK path runs exactly as before — the skew
    // protection is only ever dropped when the whole frame is
    // single-task-sized anyway.
    //
    // The skip returns ONE constant boundary (two slices), not an
    // empty array: with no boundary the slice column folds to a
    // LITERAL, the (slice, key) equi-join keys constant-fold away,
    // and the skew-safe self-joins degenerate into the
    // CartesianProduct/BNL shapes PlanSpec's sweep rejects (observed
    // on the lit-keyed drift reports and the range-condition rank
    // picks). A constant boundary keeps the slice a genuine row
    // function — same plan shape, no quantile job; the constant's
    // VALUE is irrelevant by the balance-only contract.
    val smallBytes = 64L << 20
    val est =
      try {
        val plan = df.queryExecution.optimizedPlan
        val s = plan.stats.sizeInBytes
        // r20 (VERDICT r19 #1): a checkpoint-fed frame reports
        // defaultSizeInBytes = Long.Max (LogicalRDD has no stats), so
        // every skew-safe call above a localCheckpoint re-ran the GK
        // pass even when the materialized blocks are tiny. The TRUE
        // size of those blocks is in the block manager — use it, but
        // only for frames that are a narrow (Project/Filter) chain
        // over ONE checkpointed leaf (a join above the checkpoint can
        // expand the row count past what the leaf size shows). The
        // ×4 margin covers the derived columns a projection adds
        // (kendall's B indicator lanes, composite ords). At data
        // scale the blocks are GBs and the GK path runs exactly as
        // before — unknown sizes still default to Long.Max.
        if (s <= smallBytes) s
        else checkpointedChainSize(df, plan).map(_ * 4).getOrElse(s)
      }
      catch { case _: Exception => BigInt(Long.MaxValue) }
    if (est <= smallBytes) return Array(0.0)
    df.select(col(ordCol).cast("double").as("__o"))
      .stat.approxQuantile("__o", probs, 0.001).distinct.sorted
  }

  /** Materialized size of a narrow-chain-over-one-checkpoint frame:
    * Some(bytes actually held by the block manager) when the
    * optimized plan is a Project/Filter chain ending at exactly one
    * fully-cached [[org.apache.spark.sql.execution.LogicalRDD]] leaf,
    * None otherwise (any other node kind — a join, a generate, an
    * aggregate — can change the data volume, so the leaf size proves
    * nothing there). Used only to refine the small-frame skip above;
    * bounds remain a balance-only concern by the sharing contract. */
  private def checkpointedChainSize(df: DataFrame,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      Option[BigInt] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project => LProject}
    def leaf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
        Option[org.apache.spark.sql.execution.LogicalRDD] = p match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l)
      case _: LProject | _: LFilter => leaf(p.children.head)
      case _ => None
    }
    leaf(plan).flatMap { l =>
      df.sparkSession.sparkContext.getRDDStorageInfo
        .find(_.id == l.rdd.id)
        .filter(i => i.isCached &&
          i.numCachedPartitions == i.numPartitions)
        .map(i => BigInt(i.memSize) + BigInt(i.diskSize))
    }
  }

  /** Gap-based sessionization with per-session statistics — the
    * gaps-and-islands form that exposes SESSION IDs (session_window
    * covers the windowed-agg form, q20): a session starts at the
    * first event and wherever the gap to the previous event exceeds
    * `gapMicros`; `session_idx` is the running count of those starts
    * (both windows per-entity, (ts, id)-ordered). Emits one row per
    * session: bounds in integer micros, exact duration, event count,
    * centi-exact value sum. */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valCol: String, gapMicros: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col("__t"), col(idCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col(userCol), col(idCol), col(valCol),
        unix_micros(col(tsCol)).as("__t"))
      .withColumn("__prev", lag(col("__t"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          col("__t") - col("__prev") > gapMicros, 1).otherwise(0))
      .withColumn("session_idx", sum(col("__new")).over(wRun))
      .groupBy(col(userCol), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("__t")).as("t_start_micros"),
        max(col("__t")).as("t_end_micros"),
        (max(col("__t")) - min(col("__t"))).as("duration_micros"),
        sum(centi(col(valCol))).as("sum_value_centi"))
  }

  /** Greedy debounce / event throttling: per (entity, type), keep an
    * event iff it is the first, or more than `gapMicros` after the
    * last KEPT event — the alert/telemetry rate-limit rule. This is
    * NOT expressible with lag(): the reference point is the last
    * SURVIVOR, not the previous row (a burst 0,40,80 at gap 50 keeps
    * {0, 80}; lag-diff would drop both followers). Like the EWMA, the
    * recurrence folds a sorted bounded per-key array with
    * aggregate(); the oracle is a recursive CTE stepping rn → rn+1.
    * Output: the kept events (entity, type, t_micros, id). */
  def debounce(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, gapMicros: Long): DataFrame =
    events
      .select(col(userCol), col(typeCol),
        struct(unix_micros(col(tsCol)).as("t"), col(idCol).as("id"))
          .as("__e"))
      .groupBy(col(userCol), col(typeCol))
      .agg(sort_array(collect_list(col("__e"))).as("__es"))
      .select(col(userCol), col(typeCol), expr(
        s"""zip_with(__es,
           |  aggregate(__es,
           |    named_struct('out', cast(array() as array<boolean>),
           |                 'lk',  cast(null as bigint)),
           |    (acc, x) -> named_struct(
           |      'out', concat(acc.out, array(
           |        acc.lk IS NULL OR x.t - acc.lk > ${gapMicros}L)),
           |      'lk', CASE WHEN acc.lk IS NULL OR x.t - acc.lk > ${gapMicros}L
           |                 THEN x.t ELSE acc.lk END)).out,
           |  (e, k) -> named_struct('t', e.t, 'id', e.id, 'kept', k))"""
          .stripMargin).as("__z"))
      .select(col(userCol), col(typeCol), explode(col("__z")).as("__r"))
      .filter(col("__r.kept"))
      .select(col(userCol), col(typeCol), col("__r.t").as("t_micros"),
        col("__r.id").as("event_id"))

  /** First-order Markov transition matrix of the event stream: for
    * every (from, to) event-type pair, the number of observed
    * consecutive transitions (per entity, (ts, id)-ordered) and the
    * conditional probability in integer micros (n·1e6 div row-total —
    * exact floor arithmetic). The lead() window is partitioned per
    * entity; the per-from totals join is |event types|-sized, so it
    * broadcasts. */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(tsCol), col(idCol),
        col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("__tot"))
    counts.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 1000000L div __tot").as("p_micro"))
  }

  /** Fixed-point EWMA with α = 1/2: s₁ = v₁, sₜ = (vₜ + sₜ₋₁) div 2,
    * in exact centi-units over non-negative values — every step is
    * integer arithmetic, so an unrolled/recursive SQL replay is
    * bit-identical. The per-entity series is collected sorted and
    * folded with the `aggregate` higher-order function (a per-key
    * sequential recurrence has no set-oriented form; per-entity
    * history is bounded, so the array is executor-local state — the
    * streaming twin of this fold is flatMapGroupsWithState). */
  def ewmaCenti(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valCol: String): DataFrame = {
    val v = abs(centi(col(valCol)))
    events
      .select(col(userCol),
        struct(col(tsCol).as("ts"), col(idCol).as("id"), v.as("v"))
          .as("__e"))
      .groupBy(col(userCol))
      .agg(sort_array(collect_list(col("__e"))).as("__es"))
      .select(col(userCol), expr(
        """zip_with(__es,
          |  aggregate(__es,
          |    named_struct('out', cast(array() as array<bigint>),
          |                 's',   cast(null as bigint)),
          |    (acc, x) -> named_struct(
          |      'out', concat(acc.out, array(
          |        CASE WHEN acc.s IS NULL THEN x.v
          |             ELSE (x.v + acc.s) div 2 END)),
          |      's', CASE WHEN acc.s IS NULL THEN x.v
          |               ELSE (x.v + acc.s) div 2 END)).out,
          |  (e, s) -> named_struct('id', e.id, 'ewma', s))""".stripMargin)
        .as("__z"))
      .select(col(userCol), posexplode(col("__z")))
      .select(col(userCol), (col("pos") + 1).as("rn"),
        col("col.id").as("event_id"), col("col.ewma").as("ewma_centi"))
  }

  /** Holt LINEAR smoothing (double exponential — level + trend) with
    * α = β = 1/2, the trend-aware step up from [[ewmaCenti]]:
    *
    *   l₁ = v₁, b₁ = 0
    *   lₜ = fdiv2(vₜ + lₜ₋₁ + bₜ₋₁)      (α·v + (1−α)(l+b))
    *   bₜ = fdiv2(lₜ − lₜ₋₁ + bₜ₋₁)      (β·Δl + (1−β)b)
    *
    * where fdiv2(x) = (x − pmod(x, 2)) div 2 is FLOOR division by 2 —
    * the subtlety that makes the recurrence engine-portable on SIGNED
    * values: the trend term goes negative on any decreasing series,
    * and Spark's `div` truncates toward zero while DuckDB's `//`
    * floors, so a bare halving diverges at the first negative Δ.
    * Subtracting pmod(x, 2) makes the operand even, where truncation
    * = floor in both engines. Values are exact signed centi-units
    * (NOT abs'd, unlike the α=1/2 EWMA gate); per-entity history is
    * bounded, so the sorted array is executor-local state (same
    * collect-and-fold discipline as [[ewmaCenti]]; the streaming twin
    * is flatMapGroupsWithState). Output per event: `level_centi`,
    * `trend_centi`, and the one-step forecast `fc_centi` = l + b. */
  def holtLinearCenti(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valCol: String): DataFrame = {
    val v = centi(col(valCol))
    events
      .select(col(userCol),
        struct(col(tsCol).as("ts"), col(idCol).as("id"), v.as("v"))
          .as("__e"))
      .groupBy(col(userCol))
      .agg(sort_array(collect_list(col("__e"))).as("__es"))
      .select(col(userCol), expr(
        """zip_with(__es,
          |  aggregate(__es,
          |    named_struct(
          |      'out', cast(array() as array<struct<l: bigint, t: bigint>>),
          |      'l', cast(null as bigint), 'b', cast(null as bigint)),
          |    (acc, x) -> CASE WHEN acc.l IS NULL THEN named_struct(
          |        'out', concat(acc.out,
          |          array(named_struct('l', x.v, 't', CAST(0 AS BIGINT)))),
          |        'l', x.v, 'b', CAST(0 AS BIGINT))
          |      ELSE named_struct(
          |        'out', concat(acc.out, array(named_struct(
          |          'l', (x.v + acc.l + acc.b
          |                - pmod(x.v + acc.l + acc.b, 2)) div 2,
          |          't', ((x.v + acc.l + acc.b
          |                 - pmod(x.v + acc.l + acc.b, 2)) div 2
          |                - acc.l + acc.b
          |                - pmod((x.v + acc.l + acc.b
          |                        - pmod(x.v + acc.l + acc.b, 2)) div 2
          |                       - acc.l + acc.b, 2)) div 2))),
          |        'l', (x.v + acc.l + acc.b
          |              - pmod(x.v + acc.l + acc.b, 2)) div 2,
          |        'b', ((x.v + acc.l + acc.b
          |               - pmod(x.v + acc.l + acc.b, 2)) div 2
          |              - acc.l + acc.b
          |              - pmod((x.v + acc.l + acc.b
          |                      - pmod(x.v + acc.l + acc.b, 2)) div 2
          |                     - acc.l + acc.b, 2)) div 2)
          |    END).out,
          |  (e, s) -> named_struct('id', e.id, 'l', s.l, 't', s.t))"""
          .stripMargin)
        .as("__z"))
      .select(col(userCol), posexplode(col("__z")))
      .select(col(userCol), (col("pos") + 1).as("rn"),
        col("col.id").as("event_id"), col("col.l").as("level_centi"),
        col("col.t").as("trend_centi"),
        (col("col.l") + col("col.t")).as("fc_centi"))
  }

  /** Two-sided CUSUM change-point detector (Page 1954) in exact
    * signed centi-units — the sequential companion to the drift
    * monitor family: drift tests compare DISTRIBUTIONS batch-vs-
    * reference; CUSUM watches a per-entity VALUE SERIES for a
    * sustained mean shift and says WHEN it happened. Recurrence per
    * entity under the (ts, id) total order:
    *
    *   raw⁺ₜ = max(0, carry⁺ₜ₋₁ + (vₜ − target − slack))   (up-shift)
    *   raw⁻ₜ = max(0, carry⁻ₜ₋₁ + (target − vₜ − slack))   (down)
    *   alarmₜ = raw > h;  carryₜ = 0 if alarmₜ else rawₜ   (restart)
    *
    * — only +/−/max on longs (no division at all), so Spark and a
    * recursive-CTE replay are bit-identical with no floor/truncation
    * subtleties. `slack` is the classic allowance k (half the shift
    * worth detecting); resetting after an alarm re-arms the detector
    * so multiple change points per key are caught. Same
    * collect-and-fold discipline as [[ewmaCenti]] (bounded per-entity
    * history; the streaming twin is flatMapGroupsWithState). Output
    * per event: `(user, rn, event_id, s_pos_centi, s_neg_centi,
    * alarm_up, alarm_down)` with the PRE-reset raw statistics. */
  def cusumCenti(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valCol: String, targetCenti: Long,
      slackCenti: Long, hCenti: Long): DataFrame =
    cusumCentiWithCarry(
      events.withColumn("__cp0", lit(0L)).withColumn("__cn0", lit(0L)),
      userCol, tsCol, idCol, valCol, targetCenti, slackCenti, hCenti)

  /** [[cusumCenti]] with per-entity INITIAL carries — the streaming
    * monitor's epoch-continuation form ([[graft.streaming
    * .StreamingIngest.cusumMonitorBatch]] joins each entity's
    * persisted carry in): `events` must already hold `__cp0`/`__cn0`
    * columns, constant per entity (0/0 ≡ a fresh detector, so the
    * public batch form is exactly this with zero carries). */
  private[graft] def cusumCentiWithCarry(events: DataFrame,
      userCol: String, tsCol: String, idCol: String, valCol: String,
      targetCenti: Long, slackCenti: Long, hCenti: Long): DataFrame = {
    require(slackCenti >= 0 && hCenti > 0,
      "cusumCenti: slack must be >= 0 and h > 0")
    val v = centi(col(valCol))
    events
      // a null v would make greatest(0, acc.cp + x.v - ...) collapse to
      // 0 (greatest skips nulls) — silently resetting an in-progress
      // detection on engine-specific null semantics; exclude null
      // values up front like twapCenti/rankAutocorr
      .filter(col(valCol).isNotNull)
      .select(col(userCol),
        struct(col(tsCol).as("ts"), col(idCol).as("id"), v.as("v"))
          .as("__e"),
        col("__cp0"), col("__cn0"))
      .groupBy(col(userCol))
      .agg(sort_array(collect_list(col("__e"))).as("__es"),
        first(col("__cp0")).as("__c0"),
        first(col("__cn0")).as("__n0"))
      .select(col(userCol), expr(
        s"""zip_with(__es,
          |  aggregate(__es,
          |    named_struct(
          |      'out', cast(array() as
          |        array<struct<sp: bigint, sn: bigint>>),
          |      'cp', __c0, 'cn', __n0),
          |    (acc, x) -> named_struct(
          |      'out', concat(acc.out, array(named_struct(
          |        'sp', greatest(CAST(0 AS BIGINT),
          |          acc.cp + x.v - ${targetCenti}L - ${slackCenti}L),
          |        'sn', greatest(CAST(0 AS BIGINT),
          |          acc.cn + ${targetCenti}L - x.v - ${slackCenti}L)))),
          |      'cp', CASE WHEN greatest(CAST(0 AS BIGINT),
          |          acc.cp + x.v - ${targetCenti}L - ${slackCenti}L)
          |          > ${hCenti}L THEN CAST(0 AS BIGINT)
          |        ELSE greatest(CAST(0 AS BIGINT),
          |          acc.cp + x.v - ${targetCenti}L - ${slackCenti}L)
          |        END,
          |      'cn', CASE WHEN greatest(CAST(0 AS BIGINT),
          |          acc.cn + ${targetCenti}L - x.v - ${slackCenti}L)
          |          > ${hCenti}L THEN CAST(0 AS BIGINT)
          |        ELSE greatest(CAST(0 AS BIGINT),
          |          acc.cn + ${targetCenti}L - x.v - ${slackCenti}L)
          |        END)).out,
          |  (e, s) -> named_struct('id', e.id, 'sp', s.sp,
          |    'sn', s.sn))""".stripMargin)
        .as("__z"))
      .select(col(userCol), posexplode(col("__z")))
      .select(col(userCol), (col("pos") + 1).as("rn"),
        col("col.id").as("event_id"),
        col("col.sp").as("s_pos_centi"),
        col("col.sn").as("s_neg_centi"),
        (col("col.sp") > hCenti).as("alarm_up"),
        (col("col.sn") > hCenti).as("alarm_down"))
  }

  /** Per-entity TIME-WEIGHTED average (TWAP) in exact centi-units —
    * the billing/monitoring aggregate a plain AVG gets wrong when
    * observations are irregular (a value held for an hour must weigh
    * 3600× one held for a second): each event's value is weighted by
    * the microseconds until the NEXT event under the (ts, id) total
    * order; the last observation closes the window (weight 0), so
    * TWAP = Σ(vᵢ·Δtᵢ) / Σ(Δtᵢ) over the entity's observed span.
    * The weighted sum rides DECIMAL(38,0) (value·Δt_us overflows a
    * long at day-scale gaps) and the final division TRUNCATES toward
    * zero — the semantic BOTH engines' native integral divide shares
    * on signed operands (Spark `div` ≡ DuckDB integer `//`; measured
    * — a pmod-floor would diverge on a negative weighted sum).
    * Entities with a single event drop (no observed span). Per-entity history is bounded —
    * the events family's plain-window contract; the skew-safe lead
    * exists for the unbounded shape. Output:
    * (user, n_events, dur_us, twap_centi). */
  /** Time-bucketed OHLC bars (r15): per (entity, hour) — open/close =
    * the first/last value under the (ts, id) total order, high/low =
    * max/min, plus event count and centi-sum volume. The bar builder
    * every monitoring/market/telemetry rollup runs; ONE keyed
    * aggregate, no window at all: first/last ride min_by/max_by on a
    * composite in-bucket key (micros since bucket start)·10⁹ + id —
    * ≤ 3.6·10¹⁸ + id, exact in int64 (micros-in-hour < 3.6·10⁹ by
    * construction), and collision-free because the 10⁹ stride covers
    * the guarded id domain [0, 10⁹) — the same contract every other
    * composite-order op enforces via [[Profile.requireCompositeDomain]]
    * (a 10⁶ stride would let an id ≥ 10⁶ outweigh a genuine
    * microsecond gap). Unique because ids are (the
    * lineitem-duplicates lesson: never trust ts alone). Values in
    * exact centi units. */
  def ohlcBars(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valCol: String): DataFrame = {
    Profile.requireCompositeDomain(events, "ohlcBars", idCol, Nil)
    val bucket = date_trunc("hour", col(tsCol))
    events
      // a null ts would group under a null bucket with a null ord —
      // exclude like null values (no bar can place it)
      .filter(col(valCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol), col(idCol),
        bucket.as("bucket_ts"),
        ((unix_micros(col(tsCol)) - unix_micros(bucket)) *
          lit(1000000000L) + col(idCol)).as("__ord"),
        centi(col(valCol)).as("__v"))
      .groupBy(col(userCol), col("bucket_ts"))
      .agg(
        min_by(col("__v"), col("__ord")).as("open_centi"),
        max(col("__v")).as("high_centi"),
        min(col("__v")).as("low_centi"),
        max_by(col("__v"), col("__ord")).as("close_centi"),
        count(lit(1)).as("n_events"),
        sum(col("__v")).as("vol_centi"))
  }

  /** Per-event TRAILING TIME-RANGE aggregates (r15): for every event,
    * the sum/count of the entity's values over the trailing
    * `windowMicros` (inclusive of the event's own instant) — the
    * RANGE-frame semantics ([... PRECEDING, CURRENT ROW] over the
    * TIME axis) that row frames ([[rollingFeatures]]) cannot express:
    * a burst of 50 events in one minute is one minute of window, not
    * 50 rows. Range frames need no tiebreak for associative
    * aggregates — all equal-ts peers are in-frame by definition (the
    * lineitem-duplicates lesson inverted). One partitioned window per
    * entity, frame state bounded by the window's event count. Exact
    * centi units. */
  def rollingTimeWindow(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, valCol: String,
      windowMicros: Long): DataFrame = {
    require(windowMicros > 0, "rollingTimeWindow: window must be > 0")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("__tm"))
      .rangeBetween(-(windowMicros - 1), 0)
    events
      .filter(col(valCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol), col(idCol),
        unix_micros(col(tsCol)).as("__tm"), centi(col(valCol)).as("__v"))
      .select(col(userCol), col(idCol),
        sum(col("__v")).over(w).as("win_sum_centi"),
        count(lit(1)).over(w).as("n_in_window"))
  }

  def twapCenti(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("__tm"), col(idCol))
    val d38 = "decimal(38,0)"
    events
      .filter(col(valCol).isNotNull)
      .select(col(userCol), col(idCol),
        unix_micros(col(tsCol)).as("__tm"), centi(col(valCol)).as("__v"))
      .withColumn("__dt", lead(col("__tm"), 1).over(w) - col("__tm"))
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("__dt")).as("dur_us"),
        sum(expr(s"CAST(__v AS $d38) * __dt")).as("__ws"))
      .filter(col("dur_us").isNotNull && col("dur_us") > 0)
      .select(col(userCol), col("n_events"), col("dur_us"),
        expr("CAST(__ws div dur_us AS BIGINT)").as("twap_centi"))
  }

  /** Per-entity RANK autocorrelation function (the Spearman ACF of
    * the tiebroken order): for each lag k ∈ 1..maxLag, the exact
    * Spearman ρ between a series' value and its k-step predecessor
    * under the (ts, id) total order — the seasonality/persistence
    * probe of the monitoring family ([[cusumCenti]] says WHEN a mean
    * shifted; this says whether the series REMEMBERS itself at lag
    * k). Rank correlation instead of Pearson for the usual two
    * reasons: robust to the heavy tails an event-value stream
    * actually has, and integral end-to-end (Pearson's r needs a
    * sqrt; ρ of the composite order is exact micros — the q231
    * discipline).
    *
    * Plan: one per-entity row_number (the events family's bounded-
    * history window), then per lag an equi self-join on
    * (entity, rn − k) pairs the rows, and [[Profile.spearmanExact]]
    * ranks both sides skew-safely (a mega-entity is GK-sliced, never
    * stranded on one task). Entities with fewer than k + 2 events
    * drop (ρ undefined). Output: (userCol, lag, n, sd2, rho_micro),
    * n = the number of (t, t−k) pairs. */
  def rankAutocorr(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, "rankAutocorr: maxLag must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    // ONE materialization + ONE domain guard for all lags: every
    // per-lag pair frame draws its ids (__rn, shifted) and values
    // from this base, so guarding it once proves the composite
    // domain for every lag — and localCheckpoint stops the window
    // from re-running for each lag's two rank passes (the q150/q246
    // multi-consumer discipline; the pair joins then read
    // executor-local blocks, not the event scan).
    val base = events
      .filter(col(valCol).isNotNull)
      .select(col(userCol), col(tsCol), col(idCol),
        centi(col(valCol)).as("__v"))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .select(col(userCol), col("__rn"), col("__v"))
      .localCheckpoint()
    Profile.requireCompositeDomain(base, "rankAutocorr", "__rn",
      Seq("__v"))
    // ALL lags fused into ONE spearman call keyed by the
    // (entity, lag) struct: one union frame (≤ maxLag·n rows), ONE
    // pair of skew-safe rank passes and one rank join — instead of
    // maxLag of each (ranks are per-(entity, lag) either way, so the
    // fused grouping is semantics-preserving and the job count drops
    // ~3× at maxLag = 3).
    val allPairs = (1 to maxLag).map { k =>
      val prev = base.select(col(userCol).as("__u2"),
        (col("__rn") + k).as("__rn2"), col("__v").as("__pv"))
      base.join(prev,
          col(userCol) === col("__u2") && col("__rn") === col("__rn2"))
        .select(col(userCol), col("__rn"), col("__v"), col("__pv"))
        .withColumn("__lag", lit(k))
    }.reduce(_.unionByName(_))
      .withColumn("__gk",
        struct(col(userCol).as("u"), col("__lag").as("l")))
      .localCheckpoint()
    Profile.spearmanExactPreGuarded(allPairs, "__gk", "__rn", "__v",
        "__pv")
      .select(col("__gk.u").as(userCol), col("__gk.l").as("lag"),
        col("n"), col("sd2"), col("rho_micro"))
  }
}
