package graft

import org.apache.spark.sql.functions._

/** Adversarial-skew stress (VERDICT r10 #7): a PLANTED mega-key — 99%
  * of all rows on one key, the rest uniform — measured through both
  * mitigation layers so the COVERAGE.md claim ("AQE splits skewed
  * JOIN partitions; it cannot split a single mega-key AGGREGATION —
  * that needs salting") carries numbers instead of argument.
  *
  * Arms (all exact-equivalent results, asserted):
  *  - join / AQE-alone:  probe ⋈ dim sort-merge join with AQE skew
  *    handling enabled (thresholds lowered so the ~hot-partition size
  *    qualifies at local scale — at cluster scale the defaults do).
  *  - join / salted:     [[graft.ops.Relational.skewSafeJoin]].
  *  - agg / AQE-alone:   count(DISTINCT v) BY key — stage 2 of the
  *    two-level distinct plan keys the exchange on the GROUPING key,
  *    so the mega-key's millions of distinct values land on ONE
  *    reducer; AQE cannot split an aggregation exchange.
  *  - agg / salted:      the same distinct count with a salted middle
  *    stage: groupBy(key, v) → groupBy(key, salt) partial counts →
  *    groupBy(key) sum — the hot key spreads over `salts` reducers.
  *
  * The per-arm signal is wall time + the MAX single-task duration of
  * the job (the straggler — at cluster scale the whole stage waits on
  * it), plus shuffle bytes for sanity.
  *
  * Usage: SkewStress [salts]   (default 32 salts; always [[Rows]] rows)
  */
object SkewStress {

  /** The input size. Each arm's expected row count is derived for it:
    * every uniform key carries at least 8 rows, and 90% of the rows are
    * as-of probes. */
  val Rows = 8000000L

  def main(args: Array[String]): Unit = {
    val rows = Rows
    val salts = args.headOption.map(_.toInt).getOrElse(32)
    val spark = Sessions.local(conf = Seq(
      "spark.sql.shuffle.partitions" -> "32",
      // lowered skew-join thresholds: the planted hot partition is
      // ~100 MB at 8M rows; the defaults (256 MB) are tuned for
      // cluster-sized partitions and would mask the comparison
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) // force SMJ
    val meter = RunMeter.attach(spark)
    import graft.ops.Relational

    // planted skew: 99% of rows on key 0, remainder uniform over 9973
    // keys; v = row id (every value distinct — worst case for the
    // distinct-aggregation reducer). Deterministic, no RNG.
    val probe = spark.range(rows).select(
        when(pmod(col("id"), lit(100)) < 99, lit(0L))
          .otherwise(pmod(col("id"), lit(9973)) + 1).as("k"),
        col("id").as("v"))
      .localCheckpoint() // freeze input so every arm reads identical bytes
    val dim = spark.range(10000).select(col("id").as("k"),
        (col("id") * 7).as("attr"))
      .localCheckpoint()

    val reps = RunMeter.Reps
    def run(tag: String, expect: Long)(mk: () => org.apache.spark.sql.DataFrame): Unit = {
      val (sec, n, m) = meter.medianOf(reps)(mk)
      require(n == expect, s"$tag: $n rows, expected $expect")
      println(String.format(java.util.Locale.ROOT,
        """{"arm":"%s","rows_in":%d,"rows_out":%d,"sec":%.3f,"max_task_ms":%d,"shuffle_mb":%.1f,"reps":%d}""",
        tag, Long.box(rows), Long.box(n), Double.box(sec),
        Long.box(m.maxTaskMs), Double.box(m.shuffleBytes / 1e6 / reps),
        Int.box(reps)))
    }

    // ---- JOIN arms: every probe row matches one dim row ----
    val expectJoin = rows
    // warm
    probe.join(dim, "k").queryExecution.toRdd.count()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    run("join_aqe", expectJoin)(() => probe.join(dim, "k"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    run("join_plain_no_aqe", expectJoin)(() => probe.join(dim, "k"))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    run("join_salted", expectJoin)(() =>
      Relational.skewSafeJoin(probe, dim, "k", "v", salts))

    // ---- AGG arms: count(DISTINCT v) by key ----
    val expectAgg = 9974L // key 0 + 9973 uniform keys
    probe.groupBy("k").agg(countDistinct("v")).queryExecution.toRdd.count()
    run("agg_distinct_aqe", expectAgg)(() =>
      probe.groupBy("k").agg(countDistinct(col("v")).as("nd")))
    run("agg_distinct_salted", expectAgg)(() =>
      probe.select(col("k"), col("v")).distinct()
        .withColumn("__salt", pmod(xxhash64(col("v")), lit(salts)))
        .groupBy(col("k"), col("__salt")).agg(count(lit(1)).as("__n"))
        .groupBy(col("k")).agg(sum(col("__n")).as("nd")))

    // ---- TOP-K arms: exact per-key top-5 of v ----
    // The aggregation shape AQE genuinely cannot fix is one whose
    // partial step does not reduce: a row_number window sends EVERY
    // row of the hot key into one task's sort (a window partition is
    // unsplittable). The salted form decomposes exactly because
    // top5(S) = top5(∪ per-slice top5) — per-(k,salt) top-5, then
    // re-top-5 per key. (count/sum/avg don't need this: map-side
    // combine already collapses the hot key to 1 row/partition, and
    // count-DISTINCT's first exchange keys on (k,v), which a distinct
    // v keeps uniform — both measured above.)
    import org.apache.spark.sql.expressions.Window
    val expectTopk = 9973L * 5 + 5 // every uniform key carries >=8 rows
    def topkSalted() = {
      val slice5 = (c: org.apache.spark.sql.Column) =>
        slice(sort_array(c, asc = false), 1, 5)
      probe.withColumn("__salt", pmod(xxhash64(col("v")), lit(salts)))
        .groupBy(col("k"), col("__salt"))
        .agg(slice5(collect_list(col("v"))).as("t"))
        .select(col("k"), explode(col("t")).as("v"))
        .groupBy(col("k")).agg(slice5(collect_list(col("v"))).as("t"))
        .select(col("k"), explode(col("t")).as("v"))
    }
    def topkWindow() =
      probe.withColumn("__rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("v").desc)))
        .filter(col("__rn") <= 5).drop("__rn")
    topkWindow().queryExecution.toRdd.count() // warm
    run("topk_window_aqe", expectTopk)(() => topkWindow())
    run("topk_salted", expectTopk)(() => topkSalted())
    require(topkWindow().exceptAll(topkSalted()).isEmpty &&
      topkSalted().exceptAll(topkWindow()).isEmpty,
      "salted top-k disagrees with the window form")

    // ---- RUNNING-TOTAL arms: the shape with NO built-in fix ----
    // A running sum has no rank-limit to push down and no map-side
    // combine: the window form must materialize the hot key's 7.92M
    // rows in ONE task. The two-pass distributed prefix sum
    // ([[graft.ops.EventAnalytics.runningTotalSkewSafe]], gate q191)
    // range-partitions the key across slices and stitches offsets.
    def runningWindow() =
      probe.withColumn("run", sum(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def runningTwoPass() =
      graft.ops.EventAnalytics.runningTotalSkewSafe(
        probe, "k", "v", "v", "run", partitions = 32)
    runningWindow().queryExecution.toRdd.count() // warm
    run("running_window_aqe", rows)(() => runningWindow())
    run("running_twopass", rows)(() => runningTwoPass())
    require(runningWindow().exceptAll(runningTwoPass()).isEmpty &&
      runningTwoPass().exceptAll(runningWindow()).isEmpty,
      "two-pass running total disagrees with the window form")

    // ---- MEDIAN arms: exact per-key middle order statistic ----
    // Top-k survives skew because WindowGroupLimit pushes the rank
    // LIMIT below the exchange; a MIDDLE order statistic (rank =
    // n/2) has no limit to push — the window form sorts the hot
    // key's 7.92M rows in one task, exactly like the running total.
    // The prefix-sum rank (groupMedianSkewSafe, gate q203) spreads
    // them across the deterministic ord slices.
    val expectMedian = 9974L
    def medianWindow() =
      probe.withColumn("__rk", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("v"))))
        .withColumn("__n",
          count(lit(1)).over(Window.partitionBy(col("k"))))
        .filter(col("__rk") === expr("(__n + 1) div 2") ||
          col("__rk") === expr("__n div 2 + 1"))
        .groupBy(col("k")).agg(max(col("__n")).as("n"),
          min(col("v")).as("median_lo"), max(col("v")).as("median_hi"))
    def medianTwoPass() =
      graft.ops.EventAnalytics.groupMedianSkewSafe(
        probe, "k", "v", "v", partitions = 32)
    medianWindow().queryExecution.toRdd.count() // warm
    run("median_window_aqe", expectMedian)(() => medianWindow())
    run("median_twopass", expectMedian)(() => medianTwoPass())
    require(medianWindow().exceptAll(medianTwoPass()).isEmpty &&
      medianTwoPass().exceptAll(medianWindow()).isEmpty,
      "two-pass median disagrees with the window form")

    // ---- AS-OF arms: the point-in-time lookup is the running-last
    // shape — a union + per-key LAST_VALUE window strands the hot
    // key exactly like the running total; asofJoinSkewSafe rides the
    // slice algebra (op=last). Quotes = every 10th v (ord 2v),
    // probes = the rest (ord 2v+1).
    val quotes = probe.filter(pmod(col("v"), lit(10)) === 0)
      .select(col("k"), (col("v") * 2).as("ord"), col("v").as("qv"))
    val probes = probe.filter(pmod(col("v"), lit(10)) =!= 0)
      .select(col("k"), (col("v") * 2 + 1).as("ord"),
        col("v").as("pid"))
    val expectAsof = 7200000L // 90% of 8M rows are probes
    def asofWindow() = {
      val u = probes.withColumn("qv", lit(null).cast("long"))
        .withColumn("__p", lit(true))
        .unionByName(quotes
          .withColumn("pid", lit(null).cast("long"))
          .withColumn("__p", lit(false))
          .select(col("k"), col("ord"), col("pid"), col("qv"),
            col("__p")))
      u.withColumn("asof_v", last(col("qv"), ignoreNulls = true).over(
          Window.partitionBy(col("k")).orderBy(col("ord"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("__p"))
        .select(col("k"), col("pid"), col("asof_v"))
    }
    def asofTwoPass() =
      graft.ops.EventAnalytics.asofJoinSkewSafe(probes, quotes,
          "k", "ord", "qv", "asof_v", partitions = 32)
        .select(col("k"), col("pid"), col("asof_v"))
    asofWindow().queryExecution.toRdd.count() // warm
    run("asof_window_aqe", expectAsof)(() => asofWindow())
    run("asof_twopass", expectAsof)(() => asofTwoPass())
    require(asofWindow().exceptAll(asofTwoPass()).isEmpty &&
      asofTwoPass().exceptAll(asofWindow()).isEmpty,
      "two-pass as-of disagrees with the window form")

    // ---- LAG arms: the per-row predecessor (gate q217) — every row
    // needs an output, so like the running total there is no limit to
    // push and no partial to combine; the window form sorts the hot
    // key's 7.92M rows in one task. lagSkewSafe answers all but each
    // slice's first row locally and stitches those from the op=last
    // offsets chain.
    def lagWindow() =
      probe.withColumn("prev", lag(col("v"), 1).over(
        Window.partitionBy(col("k")).orderBy(col("v"))))
    def lagTwoPass() =
      graft.ops.EventAnalytics.lagSkewSafe(probe, "k", "v", "v",
        "prev", partitions = 32)
    lagWindow().queryExecution.toRdd.count() // warm
    run("lag_window_aqe", rows)(() => lagWindow())
    run("lag_twopass", rows)(() => lagTwoPass())
    require(lagWindow().exceptAll(lagTwoPass()).isEmpty &&
      lagTwoPass().exceptAll(lagWindow()).isEmpty,
      "two-pass lag disagrees with the window form")

    // equivalence of the two agg forms (exactness is the contract)
    val a = probe.groupBy("k").agg(countDistinct(col("v")).as("nd"))
    val b = probe.select(col("k"), col("v")).distinct()
      .withColumn("__salt", pmod(xxhash64(col("v")), lit(salts)))
      .groupBy(col("k"), col("__salt")).agg(count(lit(1)).as("__n"))
      .groupBy(col("k")).agg(sum(col("__n")).as("nd"))
    require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "salted distinct-count disagrees with the plain form")
    println("""{"equivalence":"ok"}""")
    spark.stop()
  }
}
