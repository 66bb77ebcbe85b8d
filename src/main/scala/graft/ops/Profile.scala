package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling — the ANALYZE surface of an analytics engine:
  * per-column row/null/distinct counts and min/max, computed in ONE
  * pass over the table (the distinct counts ride one Expand, not one
  * scan per column) and unpivoted to a row per column. At 100 TB
  * profiling cost is one scan, not #columns scans. */
object Profile {

  /** `keys` (renamed `__k0`, `__k1`, …) grouped by each of `sets`
    * (indexes into `keys`) in turn, with each group's row count `__m`:
    * one Expand, one map-side-combined aggregate, native-typed
    * distinctness. Returns the frame and, per set, the predicate
    * that selects its rows (`__g`, the grouping id).
    *
    * This is the Expand that Spark's distinct-aggregate rewrite plans
    * for several COUNT(DISTINCT)s in one aggregate, but with its
    * groups in the order of `sets`: the rewrite orders them by
    * expression-id hashes, so one build's plan would move with how
    * many ids earlier plans took. */
  private def groupedBySets(df: DataFrame, keys: Seq[Column],
      sets: Seq[Seq[Int]]): (DataFrame, Seq[Column]) = {
    val k = keys.indices.map(j => s"__k$j")
    val counted = df.select(keys.zip(k).map { case (c, n) => c.as(n) }: _*)
      .groupingSets(sets.map(_.map(j => col(k(j)))), k.map(col): _*)
      .agg(count(lit(1)).as("__m"), grouping_id().as("__g"))
    // grouping_id: one bit per key, most significant first, set when
    // the key is NOT grouped
    (counted, sets.map(set => col("__g") === keys.indices
      .filterNot(set.contains).map(j => 1L << (keys.size - 1 - j)).sum))
  }

  /** One profile row per listed column:
    * (col_name, n, n_nonnull, n_distinct, min_s, max_s). min/max are
    * computed in the column's native type, THEN cast to string (a
    * string-space min would order "10" < "9"). Callers pre-shape
    * engine-divergent types to portable ones first — doubles to
    * integer units, timestamps to ISO strings (which sort
    * chronologically). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val (counted, in) = groupedBySets(df, cols.map(col),
      cols.indices.map(Seq(_)))
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val v = when(in(i), col(s"__k$i"))
      Seq(coalesce(sum(when(v.isNotNull, col("__m"))), lit(0L))
          .as(s"${c}__nn"),
        count(v).as(s"${c}__nd"),
        min(v).cast("string").as(s"${c}__min"),
        max(v).cast("string").as(s"${c}__max"))
    }
    val wide = counted.agg(
      coalesce(sum(when(in(0), col("__m"))), lit(0L)).as("__n"), aggs: _*)
    val stackExpr = s"stack(${cols.size}, " + cols.map { c =>
      s"'$c', `${c}__nn`, `${c}__nd`, `${c}__min`, `${c}__max`"
    }.mkString(", ") +
      ") AS (col_name, n_nonnull, n_distinct, min_s, max_s)"
    wide.select(expr(stackExpr), col("__n").as("n"))
      .select(col("col_name"), col("n"), col("n_nonnull"),
        col("n_distinct"), col("min_s"), col("max_s"))
  }

  /** NULL-PATTERN profile (r15) — the missingness map beside the
    * value profiles: one row per observed null/non-null pattern
    * across the listed columns ('1' = null, in the given column
    * order), with its row count and null tally. Which columns go
    * missing TOGETHER is the data-quality signal the per-column null
    * counts can't show (a broken upstream join nulls its whole
    * column group at once). One map-side-combinable count over one
    * scan; ≤ 2^|cols| output rows (callers list a handful of
    * columns, same contract as [[profile]]). */
  def nullPatternProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty && cols.distinct.size == cols.size,
      s"nullPatternProfile: need distinct columns, got $cols")
    val pattern = concat(cols.map(c =>
      when(col(c).isNull, "1").otherwise("0")): _*)
    val nulls = cols.map(c =>
      when(col(c).isNull, 1).otherwise(0)).reduce(_ + _)
    df.select(pattern.as("pattern"), nulls.as("__k"))
      .groupBy(col("pattern"))
      .agg(count(lit(1)).as("n"),
        max(col("__k")).cast("int").as("n_nulls"))
  }

  /** Column-profile DIFF — the schema/statistics half of the nightly
    * monitor beside the distribution drift tests: diff the CURRENT
    * table's profile against a PERSISTED reference profile (standing
    * rule 1 — a [[profile]] output frozen when the reference snapshot
    * was blessed). One row per column present in EITHER profile:
    * `status` ∈ {common, added, removed} (schema drift), the exact
    * count facets side by side (volume / null-rate / cardinality
    * drift — deltas are the caller's subtraction, kept as raw pairs
    * so the row is lossless), and null-safe changed flags for the
    * min/max strings (domain drift). Both inputs are ≤|cols| rows
    * (AQE broadcasts the join), so the diff itself is trivially
    * scale-safe; the scale properties ride the PROFILE provider —
    * feed [[profile]] outputs for the exact gate-able form, or
    * [[profileApprox]] outputs (rename `n_distinct_est` →
    * `n_distinct`; same provider on BOTH sides, estimates only
    * compare to estimates) when the exact multi-distinct Expand
    * would die at 100× — spec-pinned composable. */
  def profileDiffProfiles(refProfile: DataFrame,
      curProfile: DataFrame): DataFrame = {
    val r = refProfile.select(col("col_name"),
      col("n").as("__rn"), col("n_nonnull").as("__rnn"),
      col("n_distinct").as("__rnd"), col("min_s").as("__rmin"),
      col("max_s").as("__rmax"))
    val c = curProfile.select(col("col_name").as("__cc"),
      col("n").as("__cn"), col("n_nonnull").as("__cnn"),
      col("n_distinct").as("__cnd"), col("min_s").as("__cmin"),
      col("max_s").as("__cmax"))
    r.join(c, col("col_name") === col("__cc"), "full_outer")
      .select(
        coalesce(col("col_name"), col("__cc")).as("col_name"),
        when(col("col_name").isNull, "added")
          .when(col("__cc").isNull, "removed")
          .otherwise("common").as("status"),
        coalesce(col("__rn"), lit(0L)).as("n_ref"),
        coalesce(col("__cn"), lit(0L)).as("n_cur"),
        coalesce(col("__rnn"), lit(0L)).as("nonnull_ref"),
        coalesce(col("__cnn"), lit(0L)).as("nonnull_cur"),
        coalesce(col("__rnd"), lit(0L)).as("distinct_ref"),
        coalesce(col("__cnd"), lit(0L)).as("distinct_cur"),
        (!(col("__rmin") <=> col("__cmin"))).cast("long")
          .as("min_changed"),
        (!(col("__rmax") <=> col("__cmax"))).cast("long")
          .as("max_changed"))
  }

  /** [[profileDiffProfiles]] with the current side profiled
    * in-query — the batch entry point: the reference profile is
    * never recomputed, the current table pays ONE [[profile]]
    * scan. */
  def profileDiff(refProfile: DataFrame, cur: DataFrame,
      cols: Seq[String]): DataFrame =
    profileDiffProfiles(refProfile, profile(cur, cols))

  /** Sketch-profile sufficient statistics — the scale twin of
    * [[profile]] (VERDICT r10 #3): the exact multi-COUNT(DISTINCT)
    * plans through Expand, multiplying EVERY input row by the column
    * count before the shuffle and carrying the full distinct key sets
    * as shuffle keys — the plan that dies at 100×. Here n / n_nonnull
    * / min / max come from ONE no-distinct aggregate (no Expand), and
    * distinctness comes from a per-column HLL register table: the
    * per-row unpivot is a generator INSIDE the scan stage, and the
    * partial max collapses it map-side to ≤ cols·256 rows per
    * partition, so the shuffle is sketch-sized at any input size.
    *
    * Emits integer/string sufficient statistics rather than the float
    * estimate so the gate stays hash-exact: `nd_buckets` = occupied
    * registers (the linear-counting statistic) and `nd_s53` =
    * Σ 2^(53−rho_max) over occupied registers (the harmonic-sum
    * statistic scaled by 2^53 — exact in int64: ≤ 256·2^53 < 2^62).
    * [[profileApprox]] turns them into the estimate; `portable =
    * true` uses the md5 lane (DuckDB-replayable, the q189 gate),
    * `false` the compiled xxhash64 kernel (the 100 TB form). */
  def profileApproxStats(df: DataFrame, cols: Seq[String],
      portable: Boolean = false): DataFrame = {
    require(cols.nonEmpty)
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__nn"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackExpr = s"stack(${cols.size}, " + cols.map { c =>
      s"'$c', `${c}__nn`, `${c}__min`, `${c}__max`"
    }.mkString(", ") + ") AS (col_name, n_nonnull, min_s, max_s)"
    val exact = wide.select(expr(stackExpr), col("__n").as("n"))
    def lane(c: String) =
      if (portable) Sketches.md5LanePacked(col(c))
      else graft.functions.sketches.hll_lane_xx(col(c).cast("string"))
    val lanes = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("c"), lane(c).as("p"))): _*)).as("x"))
      .select(col("x.c").as("col_name"), col("x.p").as("packed"))
      .filter(col("packed").isNotNull)
    val stats = lanes
      .groupBy(col("col_name"), expr("packed div 64").cast("int").as("bucket"))
      .agg(max(col("packed") % 64).as("rho_max"))
      .groupBy(col("col_name"))
      .agg(count(lit(1)).cast("int").as("nd_buckets"),
        sum(expr("shiftleft(1L, 53 - rho_max)")).as("nd_s53"))
    // all-null columns have no registers: left join + zero-fill (the
    // estimate for (0, 0) stats is 0 distinct, which is correct)
    exact.join(stats, Seq("col_name"), "left")
      .select(col("col_name"), col("n"), col("n_nonnull"),
        coalesce(col("nd_buckets"), lit(0)).as("nd_buckets"),
        coalesce(col("nd_s53"), lit(0L)).as("nd_s53"),
        col("min_s"), col("max_s"))
  }

  /** User-facing approximate profile: [[profile]]'s shape with
    * `n_distinct` replaced by the HLL estimate (Flajolet 2007 §4 with
    * linear counting at the low end, the [[Sketches.hllEstimate]]
    * math re-expressed over the integer sufficient statistics:
    * harmonic sum = (nd_s53 + zeros·2^53) / 2^53). Exact n / nulls /
    * min / max unchanged. ProfileSpec pins the estimate to
    * [[Sketches.hllEstimate]] register-for-register and to truth
    * within the m = 256 error band. */
  def profileApprox(df: DataFrame, cols: Seq[String],
      portable: Boolean = false): DataFrame = {
    val m = 256
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val zeros = lit(m) - col("nd_buckets")
    // harmonic sum over all m registers × 2^53 = nd_s53 + zeros·2^53
    val raw = lit(alpha * m * m) * lit((1L << 53).toDouble) /
      (col("nd_s53").cast("double") +
        zeros.cast("double") * lit((1L << 53).toDouble))
    val est = when(col("nd_buckets") === 0, lit(0.0))
      .when(raw <= lit(2.5 * m) && zeros > 0,
        lit(m.toDouble) * log(lit(m).cast("double") / zeros.cast("double")))
      .otherwise(raw)
    profileApproxStats(df, cols, portable)
      .select(col("col_name"), col("n"), col("n_nonnull"),
        round(est).cast("long").as("n_distinct_est"),
        col("min_s"), col("max_s"))
  }

  /** Per-group z-score outliers WITHOUT square roots: flag x when
    * (x − μ)² > z²·σ², which over integer units rewrites exactly to
    *
    *   (n·x − S)² > z² · (n·Q − S²)      with S = Σx, Q = Σx²
    *
    * — all integer, so both engines agree bit-for-bit. The squared
    * terms are compared in DECIMAL(38,0) (n·x at planetary group
    * sizes squares past int64; 38 digits cover n ≈ 1e9 groups of
    * 1e6-unit values). One aggregate for the per-group moment frame
    * (≤ |groups| rows, broadcast back), one scan to flag — no
    * window, no second pass over values. Emits ONLY the outliers. */
  /** Categorical distribution profile per group — the label-balance
    * monitor of a training pipeline: for each group, the exact MODE
    * (most frequent value, smallest-value tiebreak so the answer is
    * deterministic), the value cardinality, and the Gini impurity
    * 1 − Σpᵢ² in exact integer micros (floor(10⁶·(n² − Σcᵢ²) / n²) —
    * a RATIONAL statistic, unlike entropy, so both engines agree
    * bit-for-bit; the squares ride DECIMAL(38,0), since a trillion-
    * row group squares far past int64). Plan: one (group, value)
    * count aggregate (map-side combinable), then a ≤|groups|·|values|
    * frame feeds BOTH the per-group moment roll-up and the top-1
    * window — which WindowGroupLimit takes map-side, the measured
    * skew-immune top-k path. Nulls count as a category only if the
    * caller pre-coalesces them; otherwise groupBy drops null values
    * from neither side (both engines keep null grouping keys —
    * callers wanting them excluded filter first). */
  def categoricalProfile(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val cnt = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
    val stats = cnt.groupBy(col(groupCol)).agg(
      sum(col("__c")).as("n"),
      count(lit(1)).as("n_distinct"),
      // cast BEFORE multiplying: a long·long square wraps past
      // ~3.04e9 per (group, value) count; in decimal it cannot
      // (ADVICE r12 — matching runningMomentsSkewSafe / cvmDrift)
      sum(col("__c").cast(d38) * col("__c")).cast(d38).as("__sq"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__c").desc, col(valueCol).asc)
    val mode = cnt.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(groupCol), col(valueCol).as("mode_value"),
        col("__c").as("mode_count"))
    stats.join(mode, Seq(groupCol))
      // integral div (truncation == floor on the non-negative n²−Σc²)
      .withColumn("gini_micro", expr(
        "(CAST(1000000 AS DECIMAL(38,0)) * " +
          "(CAST(n AS DECIMAL(38,0)) * n - __sq)) div " +
          "(CAST(n AS DECIMAL(38,0)) * n)"))
      .select(col(groupCol), col("n"), col("n_distinct"),
        col("mode_value"), col("mode_count"), col("gini_micro"))
  }

  /** The two-sample DRIFT KERNEL. Every statistic reads one count
    * shape, `(group?, value, __ca, __cb)`: per distinct (group, value),
    * the mass of sample A and of sample B. Three builders make it —
    * [[driftCounts]] from one frame with a sample column,
    * [[refProbeCounts]] from a persisted reference and a probe batch,
    * both [[distCounts]] frames — and the statistics ([[ksDrift]],
    * [[mannWhitneyU]], [[emdDrift]], [[cvmDrift]], [[tvdDrift]],
    * [[driftReport]]) take `(counts, value, group)`. Since a statistic
    * only sees per-value counts, the steady-state form over
    * `refProbeCounts(distCounts(A), distCounts(B))` is hash-identical
    * to the in-query form over A ∪ B by construction.
    *
    * `group = None` gives one row; `Some(g)` gives one row per group,
    * and groups where either sample is empty are dropped (every
    * statistic is undefined there). A solo input with an empty sample
    * throws DIVIDE_BY_ZERO under ANSI, as its micros divide by n₁·n₂.
    * Null values are excluded from every count frame, so the
    * engines' NULLS FIRST/LAST window divergence never enters.
    *
    * [[driftCounts]] counts the rows of `df` whose `sample` is `a`
    * into `__ca` and those whose `sample` is `b` into `__cb`, in one
    * map-side-combinable aggregate. */
  def driftCounts(df: DataFrame, value: String, sample: String,
      a: String, b: String, group: Option[String] = None): DataFrame =
    df.filter(col(sample) === a || col(sample) === b)
      .filter(col(value).isNotNull)
      .groupBy(group.toSeq.map(col) :+ col(value): _*)
      .agg(sum(when(col(sample) === a, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(sample) === b, 1L).otherwise(0L)).as("__cb"))

  /** Per-value counts of one sample, `(group?, value, ref_n)`,
    * ≤ |groups|·|values| rows. Built over the reference when it
    * freezes, this is the PERSISTED half of a steady-state drift
    * check (the reference sample is scanned once, never per batch);
    * built over a batch, it is the probe half. Either way
    * [[refProbeCounts]] merges two of them. */
  def distCounts(df: DataFrame, value: String,
      group: Option[String] = None): DataFrame =
    df.filter(col(value).isNotNull)
      .groupBy(group.toSeq.map(col) :+ col(value): _*)
      .agg(count(lit(1)).as("ref_n"))

  /** The steady-state count merge: a full-outer join of a reference
    * and a probe [[distCounts]] frame on (group?, value) — both
    * ≤ |groups|·|values| rows — zero-filled into the kernel's count
    * shape, the reference as sample A. A group with mass on one side
    * only survives the merge and drops at the keyed totals, as in the
    * in-query form. */
  def refProbeCounts(ref: DataFrame, probe: DataFrame, value: String,
      group: Option[String] = None): DataFrame = {
    val keys = group.toSeq :+ value
    val p = probe.select(
      keys.map(k => col(k).as(s"__p_$k")) :+ col("ref_n").as("__pcnt"): _*)
    ref.join(p, keys.map(k => col(k) === col(s"__p_$k")).reduce(_ && _),
        "full_outer")
      .select(keys.map(k => coalesce(col(k), col(s"__p_$k")).as(k)) ++
        Seq(coalesce(col("ref_n"), lit(0L)).as("__ca"),
          coalesce(col("__pcnt"), lit(0L)).as("__cb")): _*)
  }

  /** Two-sample Kolmogorov–Smirnov, EXACT: D = max over x of
    * |F₁(x) − F₂(x)| is a rational with denominator n₁·n₂, so
    * d_num = max |i·n₂ − j·n₁| over the distinct values' cumulative
    * counts (i, j) and ks_micro = floor(10⁶·d_num / n₁n₂) gate
    * hash-exact. Both CDFs are read after each distinct value's full
    * mass, which handles ties across samples. Output:
    * (group?, n1, n2, d_num, ks_micro). */
  def ksDrift(counts: DataFrame, value: String,
      group: Option[String] = None): DataFrame =
    finish("ks", prefix(counts, value, group, lead = false), value, group)

  /** Two-sample Mann–Whitney U, EXACT — the whole-distribution
    * stochastic order beside KS's largest CDF gap. Tie-averaged ranks
    * stay integral in HALF-UNITS: 2·ΣR_A = Σ cₐ·(2·prev + cₐ + c_b + 1)
    * (prev = combined mass before the value) and 2U = 2·ΣR_A −
    * n₁(n₁+1). u_micro = floor(10⁶·U / n₁n₂) is the common-language
    * P(A > B) + ½P(A = B); 500000 means no drift. Output:
    * (group?, n1, n2, u2, u_micro). */
  def mannWhitneyU(counts: DataFrame, value: String,
      group: Option[String] = None): DataFrame =
    finish("u", prefix(counts, value, group, lead = false), value, group)

  /** Two-sample EARTH MOVER'S distance (Wasserstein-1), EXACT: KS sees
    * the largest CDF gap, W₁ integrates it —
    * W₁ = Σ |i·n₂ − j·n₁|·Δv / (n₁·n₂) over the distinct values,
    * Δv = gap to the next distinct value (the skew-safe LEAD).
    * emd_micro = floor(10⁶·Σ / n₁n₂) is in micro-value-units. Output:
    * (group?, n1, n2, emd_num, emd_micro). */
  def emdDrift(counts: DataFrame, value: String,
      group: Option[String] = None): DataFrame =
    finish("w1", prefix(counts, value, group, lead = true), value, group)

  /** Two-sample Cramér–von Mises, EXACT sufficient statistics: the
    * SQUARED CDF gap integrated over probability mass,
    * T = Σ cᵢ·dᵢ² / (N²·n₁·n₂) with dᵢ = i·n₂ − j·n₁, cᵢ the value's
    * combined mass and N = n₁ + n₂. Σcᵢdᵢ² is carried TWO-LEVEL in
    * DECIMAL(38,0) — qᵢ = dᵢ² div n₁n₂ and rᵢ = dᵢ² mod n₁n₂ sum
    * apart — and the gate number is the defined nested floor
    * `t_micro = (10⁶·Σcᵢqᵢ + (10⁶·Σcᵢrᵢ) div n₁n₂) div N²`, which both
    * engines compute identically. Domain: n₁·n₂ < 10¹⁹. Output:
    * (group?, n1, n2, t_micro). */
  def cvmDrift(counts: DataFrame, value: String,
      group: Option[String] = None): DataFrame =
    finish("cvm", prefix(counts, value, group, lead = false), value, group)

  /** Two-sample CATEGORICAL drift, EXACT total-variation distance —
    * the unordered statistic, for columns with no value order:
    * TVD = Σ |cₐᵢ·n₂ − c_bᵢ·n₁| / (2·n₁·n₂), a pure integer
    * numerator (χ² and PSI/KL cannot hash-gate).
    * tvd_micro = floor(10⁶·Σ / 2n₁n₂) ∈ [0, 10⁶]. No prefix sums:
    * the totals attach straight to the counts. Output:
    * (group?, n1, n2, tvd_num, tvd_micro). */
  def tvdDrift(counts: DataFrame, value: String,
      group: Option[String] = None): DataFrame =
    finish("tvd", attach(counts, counts, group), value, group)

  /** One-call DRIFT REPORT — the four ordered statistics as
    * (stat, group?, n1, n2, stat_micro) rows, stat ∈ ks/u/w1/cvm and
    * stat_micro the statistic's own micro (ks_micro, u_micro,
    * emd_micro, t_micro). One slice-bounds pass serves all four
    * prefixes; the KS, U and CvM prefixes are the same subplan, which
    * W₁'s lead extends, so AQE's exchange reuse runs the count and
    * prefix work once (PlanSpec-asserted). */
  def driftReport(counts: DataFrame, value: String,
      group: Option[String] = None): DataFrame = {
    val bounds = Some(EventAnalytics.sliceBoundsFor(counts, value))
    Seq("ks" -> "ks_micro", "u" -> "u_micro", "w1" -> "emd_micro",
        "cvm" -> "t_micro").map { case (stat, micro) =>
      finish(stat, prefix(counts, value, group, lead = stat == "w1", bounds),
          value, group)
        .select(lit(stat).as("stat") +: (group.toSeq.map(col) ++
          Seq(col("n1"), col("n2"), col(micro).as("stat_micro"))): _*)
    }.reduce(_ unionByName _)
  }

  /** The shared prefix of the ordered statistics: the running sums
    * (__ia, __ib) in value order per group, riding the skew-safe
    * prefix sum (a constant key for the solo form — a global ORDER BY
    * window would be one task); then the Δv lead `__nv` when `lead`,
    * sliced by the same bounds (one GK pass, or the caller's);
    * then the totals attach. */
  private def prefix(cnt: DataFrame, value: String,
      group: Option[String], lead: Boolean,
      bounds: Option[Array[Double]] = None): DataFrame = {
    val key = group.getOrElse("__g")
    val b = Some(bounds.getOrElse(EventAnalytics.sliceBoundsFor(cnt, value)))
    val cum = EventAnalytics.runningAggsSkewSafe(
      if (group.isEmpty) cnt.withColumn(key, lit(0)) else cnt, key, value,
      Seq(("__ca", "sum", "__ia"), ("__cb", "sum", "__ib")), b)
    attach(if (lead) EventAnalytics.leadSkewSafe(cum, key, value, value,
      "__nv", b) else cum, cnt, group)
  }

  /** Attaches the sample totals (n1, n2) of `cnt` to `d`: one row, or
    * one per group with both samples non-empty (the others drop). Both
    * are ≤ |groups| rows, so the attach is an explicit broadcast —
    * a cross join solo, an equi join on the group keyed. */
  private def attach(d: DataFrame, cnt: DataFrame,
      group: Option[String]): DataFrame = {
    val totals = cnt.groupBy(group.toSeq.map(col): _*)
      .agg(sum(col("__ca")).as("n1"), sum(col("__cb")).as("n2"))
    group match {
      case None => d.crossJoin(broadcast(totals))
      case Some(g) =>
        d.join(broadcast(totals.filter(col("n1") > 0 && col("n2") > 0)
            .withColumnRenamed(g, "__tk")), col(g) === col("__tk"))
          .drop("__tk")
    }
  }

  /** The one formula of each statistic over an attached prefix `p`:
    * a per-group reduce, then the statistic's output columns. Every
    * product rides DECIMAL(38,0) (|i·n₂ − j·n₁| alone saturates
    * long); every micro is an integer floor. */
  private def finish(stat: String, p: DataFrame, value: String,
      group: Option[String]): DataFrame = {
    val d38 = "decimal(38,0)"
    val m = "CAST(1000000 AS DECIMAL(38,0))"
    val n1n2 = "CAST(n1 AS DECIMAL(38,0)) * n2"
    val gap = abs(col("__ia") * col("n2") - col("__ib") * col("n1"))
    // (the frame to reduce, its aggregates, the outputs in order)
    val (d, aggs, outs) = stat match {
      case "ks" => (p, Seq(max(gap).as("d_num")),
        Seq("ks_micro" -> s"($m * d_num) div ($n1n2)"))
      case "u" => (p.withColumn("__r2", (col("__ca").cast(d38) *
          (lit(2) * (col("__ia") - col("__ca") + col("__ib") - col("__cb"))
            + col("__ca") + col("__cb") + 1)).cast(d38)),
        Seq(sum(col("__r2")).cast(d38).as("__r2a")),
        Seq("u2" -> ("CAST(__r2a - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) " +
            "AS BIGINT)"),
          "u_micro" -> s"($m * u2) div (2 * $n1n2)"))
      case "w1" => (p, Seq(sum(when(col("__nv").isNotNull,
          (gap.cast(d38) * (col("__nv") - col(value))).cast(d38))
          .otherwise(lit(0).cast(d38))).cast(d38).as("__s")),
        Seq("emd_num" -> "CAST(__s AS BIGINT)",
          "emd_micro" -> s"($m * __s) div ($n1n2)"))
      case "cvm" => (p.withColumn("__m", expr(s"CAST(n1 AS $d38) * n2"))
          .withColumn("__d", gap.cast(d38))
          .withColumn("__c", (col("__ca") + col("__cb")).cast(d38)),
        Seq(sum(expr("__c * ((__d * __d) div __m)")).cast(d38).as("__sq"),
          sum(expr("__c * ((__d * __d) % __m)")).cast(d38).as("__sr")),
        Seq("t_micro" -> (s"CAST(($m * __sq + ($m * __sr) div ($n1n2)) " +
          "div (CAST(n1 + n2 AS DECIMAL(38,0)) * (n1 + n2)) AS BIGINT)")))
      case "tvd" => (p, Seq(sum(abs(col("__ca").cast(d38) * col("n2") -
          col("__cb").cast(d38) * col("n1")).cast(d38)).cast(d38).as("__s")),
        Seq("tvd_num" -> "CAST(__s AS BIGINT)",
          "tvd_micro" -> s"($m * __s) div (2 * $n1n2)"))
    }
    outs.foldLeft(d.groupBy(group.toSeq.map(col): _*)
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2") +: aggs: _*)) {
        case (r, (name, e)) => r.withColumn(name, expr(e))
      }
      .drop("__r2a", "__s", "__sq", "__sr")
  }

  /** Functional-dependency PROFILE — schema discovery over all
    * ordered column pairs: for each (lhs, rhs), the exact violation
    * count Σ_lhs max(0, |distinct non-null rhs| − 1) (0 ⟺ lhs → rhs
    * holds) — the dependency map a modeler reads before keys/
    * normalization decisions, and the discovery sweep behind
    * [[Expectations.FunctionalDependency]] (which then PINS the
    * dependencies worth enforcing). Plan: one map-side-combinable
    * count-distinct aggregate per lhs column computing ALL its rhs
    * counts at once (c jobs for c columns, not c²), stacked to
    * (lhs, rhs, violations) rows.
    *
    * Scale honesty (VERDICT r12 #5): each job's exchange carries
    * |distinct lhs| rows — column-profile-sized ONLY when lhs is
    * low-cardinality. A NEAR-KEY lhs makes it data-sized (lhs =
    * `l_orderkey` ⇒ |distinct| ≈ n/4; SCALE.md measured q232's
    * count-distinct exchange at 10.2× when the data grew 10×) —
    * exact FD discovery over a near-key IS a data-sized job, like
    * [[keyProfile]]'s exact distinct counts. For wide discovery
    * sweeps at 100 TB, pass `sampleFraction` to run the sweep on a
    * deterministic-seed sample first (violation counts become
    * sample-scoped lower-bound ESTIMATES — an FD violated in the
    * sample is violated in the table, not conversely) and verify
    * only the surviving candidate dependencies exactly. */
  def fdProfile(df: DataFrame, cols: Seq[String],
      sampleFraction: Option[Double] = None): DataFrame = {
    require(cols.size >= 2, "fdProfile: need at least two columns")
    require(sampleFraction.forall(f => f > 0 && f <= 1),
      "fdProfile: sampleFraction must sit in (0, 1]")
    val base = sampleFraction match {
      case Some(f) if f < 1.0 => df.sample(withReplacement = false,
        f, seed = 42L) // fixed seed: rerunning the sweep is stable
      case _ => df
    }
    cols.map { lhs =>
      val others = cols.filterNot(_ == lhs)
      // grouped by (lhs, rhs) per rhs; an rhs is null outside its own
      // set, so the count over all rhs keys of a (lhs, set) group is
      // that lhs value's distinct non-null images
      val (counted, in) = groupedBySets(base, (lhs +: others).map(col),
        others.indices.map(i => Seq(0, i + 1)))
      val cd = counted.groupBy(col("__k0"), col("__g"))
        .agg(others.indices.map(i => count(col(s"__k${i + 1}")))
          .reduce(_ + _).as("__cd"))
      val violations = greatest(col("__cd") - 1L, lit(0L))
      val sums = cd.agg(sum(when(in(0), violations)).as("__v_0"),
        others.indices.tail.map(i =>
          sum(when(in(i), violations)).as(s"__v_$i")): _*)
      val stackExpr = s"stack(${others.size}, " +
        others.zipWithIndex.map { case (c, i) =>
          s"'$c', coalesce(`__v_$i`, 0L)" }.mkString(", ") +
        ") AS (rhs, violations)"
      sums.select(lit(lhs).as("lhs"), expr(stackExpr))
        .select(col("lhs"), col("rhs"), col("violations"),
          (col("violations") === 0L).cast("long").as("fd_holds"))
    }.reduce(_ unionByName _)
  }

  /** Candidate-KEY profile — the uniqueness half of schema discovery
    * beside [[fdProfile]]: for each candidate (a column or column
    * tuple), its exact distinct count and whether it is a unique key
    * of the table. ALL candidates ride ONE Expand and one
    * map-side-combined aggregate over one scan (the exact-oracle
    * shape, like [[profile]]; at 100 TB
    * you run this on a sample or ask [[profileApproxStats]] for the
    * HLL answer first and verify only the near-unique ones exactly).
    * Tuple candidates count via a struct (null FIELDS make the
    * struct non-null, so a tuple with a null component still
    * counts — both engines agree); single columns skip nulls (SQL
    * COUNT DISTINCT). Output: (candidate, n, n_distinct,
    * is_unique_key). */
  def keyProfile(df: DataFrame, candidates: Seq[Seq[String]])
      : DataFrame = {
    require(candidates.nonEmpty &&
      candidates.forall(_.nonEmpty), "keyProfile: empty candidate")
    // a repeated candidate would repeat its grouping set, and both
    // copies would add their rows to the same groups
    require(candidates.distinct.size == candidates.size,
      s"keyProfile: repeated candidate in $candidates")
    val (counted, in) = groupedBySets(df, candidates.map(cs =>
      if (cs.size == 1) col(cs.head) else struct(cs.map(col): _*)),
      candidates.indices.map(Seq(_)))
    val wide = counted.agg(
      coalesce(sum(when(in(0), col("__m"))), lit(0L)).as("__n"),
      candidates.indices.map(i =>
        count(when(in(i), col(s"__k$i"))).as(s"__cd_$i")): _*)
    val stackExpr = s"stack(${candidates.size}, " +
      candidates.zipWithIndex.map { case (cs, i) =>
        s"'${cs.mkString("+")}', `__cd_$i`" }.mkString(", ") +
      ") AS (candidate, n_distinct)"
    wide.select(expr(stackExpr), col("__n").as("n"))
      .select(col("candidate"), col("n"), col("n_distinct"),
        (col("n_distinct") === col("n")).cast("long")
          .as("is_unique_key"))
  }

  /** Sketch twin of [[keyProfile]] for SINGLE **and TUPLE**
    * candidates (VERDICT r12 #2 — the "ask the HLL answer first"
    * escape hatch now exists for composites): the exact form's
    * multi-COUNT(DISTINCT) Expand dies at 100× exactly like
    * [[profile]]'s, so distinctness here rides per-candidate HLL
    * register statistics — the per-row unpivot is a generator inside
    * the scan stage and the partial max collapses it map-side to
    * ≤ candidates·256 rows per partition, sketch-sized at any input.
    *
    * A TUPLE candidate hashes ONE composite lane: components
    * stringified and joined on the `\u0001` separator with `\u0000`
    * for null components — null fields keep the tuple countable
    * (COUNT DISTINCT over a struct counts them; a lane skipped on
    * null components would not), matching [[keyProfile]]'s struct
    * semantics. Contract: component values must not contain the two
    * sentinel code points (data that does would alias tuples — an
    * APPROXIMATE op's acceptable, documented trade; the exact twin
    * has no such caveat). Single-column candidates skip nulls (SQL
    * COUNT DISTINCT), exactly [[profileApproxStats]]'s lane.
    *
    * Emits the integer sufficient statistics (`nd_buckets`,
    * `nd_s53` — see [[profileApproxStats]]) so the portable md5 lane
    * gates hash-exact in DuckDB; `portable = false` runs the
    * compiled xxhash64 kernel, the 100 TB form. */
  def keyProfileApproxStats(df: DataFrame,
      candidates: Seq[Seq[String]],
      portable: Boolean = false): DataFrame = {
    require(candidates.nonEmpty &&
      candidates.forall(_.nonEmpty),
      "keyProfileApproxStats: empty candidate")
    // lanes are GROUPED by the display label, so two candidates
    // whose labels collide after mkString("+") (Seq("a","b") vs
    // Seq("a+b")) would merge their HLL registers into one wrong
    // estimate — worse than the exact twin, where a collision only
    // duplicates an output label (ADVICE r13)
    val labels = candidates.map(_.mkString("+"))
    require(labels.distinct.size == labels.size,
      "keyProfileApproxStats: candidate labels collide after " +
        s"mkString(\"+\"): ${labels.diff(labels.distinct).distinct
          .mkString(", ")} — rename the colliding columns or drop " +
        "one candidate (lanes are keyed by label)")
    def keyOf(cs: Seq[String]): Column =
      if (cs.size == 1) col(cs.head).cast("string")
      else concat_ws("\u0001",
        cs.map(c => coalesce(col(c).cast("string"),
          lit("\u0000"))): _*)
    def lane(k: Column) =
      if (portable) Sketches.md5LanePacked(k)
      else graft.functions.sketches.hll_lane_xx(k)
    val wide = df.agg(count(lit(1)).as("__n"))
    val stackExpr = s"stack(${candidates.size}, " +
      candidates.map(cs => s"'${cs.mkString("+")}'").mkString(", ") +
      ") AS (candidate)"
    val names = wide.select(expr(stackExpr), col("__n").as("n"))
    val lanes = df.select(explode(array(
        candidates.map(cs => struct(lit(cs.mkString("+")).as("c"),
          lane(keyOf(cs)).as("p"))): _*)).as("x"))
      .select(col("x.c").as("candidate"), col("x.p").as("packed"))
      .filter(col("packed").isNotNull)
    val stats = lanes
      .groupBy(col("candidate"),
        expr("packed div 64").cast("int").as("bucket"))
      .agg(max(col("packed") % 64).as("rho_max"))
      .groupBy(col("candidate"))
      .agg(count(lit(1)).cast("int").as("nd_buckets"),
        sum(expr("shiftleft(1L, 53 - rho_max)")).as("nd_s53"))
    names.join(stats, Seq("candidate"), "left")
      .select(col("candidate"), col("n"),
        coalesce(col("nd_buckets"), lit(0)).as("nd_buckets"),
        coalesce(col("nd_s53"), lit(0L)).as("nd_s53"))
  }

  /** User-facing approximate key profile: [[keyProfile]]'s shape with
    * `n_distinct` replaced by the HLL estimate (the
    * [[profileApprox]] math over the same integer sufficient
    * statistics). `is_unique_key` is deliberately ABSENT — within
    * sketch error a near-key and a key are indistinguishable; run
    * [[keyProfile]] exactly on the candidates this narrows down. */
  def keyProfileApprox(df: DataFrame, candidates: Seq[Seq[String]],
      portable: Boolean = false): DataFrame = {
    val m = 256
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val zeros = lit(m) - col("nd_buckets")
    val raw = lit(alpha * m * m) * lit((1L << 53).toDouble) /
      (col("nd_s53").cast("double") +
        zeros.cast("double") * lit((1L << 53).toDouble))
    val est = when(col("nd_buckets") === 0, lit(0.0))
      .when(raw <= lit(2.5 * m) && zeros > 0,
        lit(m.toDouble) * log(lit(m).cast("double") / zeros.cast("double")))
      .otherwise(raw)
    keyProfileApproxStats(df, candidates, portable)
      .select(col("candidate"), col("n"),
        round(est).cast("long").as("n_distinct_est"))
  }

  /** Shared domain guard for the `value·10⁹ + id` composite total
    * order ([[spearmanExact]] / [[binnedRefBoundaries]]): every
    * participating column must be an INTEGRAL type (the composite
    * product is computed in the column's own type, so a fractional
    * value marginally over the bound would truncate through the
    * guard's long cast while `x·10⁹` overflows double precision —
    * and a double NaN casts to null, vanishing from any aggregate
    * check; ADVICE r13 + VERDICT r13 wrong #3 — scale doubles to
    * micro longs first, the family idiom), and one min/max
    * aggregate bounds the ranges WITHOUT abs (abs(Long.MinValue)
    * wraps negative, so an abs-based bound passes the one value it
    * must reject). Throws on the driver before the plan builds. */
  /** Returns the distinct count of `countGroupsOf` (null group
    * included) when asked — r20 (VERDICT r19 #1): the guard is
    * already ONE eager aggregate over the frame, so the group count
    * the pick-plan broadcast bound needs rides the same action
    * instead of paying `pickGlobalRanks` a second eager barrier. */
  private[ops] def requireCompositeDomain(df: DataFrame, op: String,
      idCol: String, valueCols: Seq[String],
      countGroupsOf: Option[String] = None): Option[Long] = {
    import org.apache.spark.sql.types._
    (idCol +: valueCols).foreach { c =>
      val dt = df.schema(c).dataType
      require(dt == ByteType || dt == ShortType ||
          dt == IntegerType || dt == LongType,
        s"$op: $c must be an integral type — the value*1e9 + id " +
          s"composite order is only exact for integral inputs " +
          s"(scale doubles/decimals to micro longs first); got $dt")
    }
    // |v|·10⁹ + id ≤ Long.Max ⇔ |v| ≤ (2⁶³−1 − (10⁹−1)) div 10⁹
    val maxAbsV = (Long.MaxValue - 999999999L) / 1000000000L
    val aggs = valueCols.flatMap(c => Seq(
        min(col(c)).cast("long"), max(col(c)).cast("long"))) ++
      Seq(min(col(idCol)).cast("long"), max(col(idCol)).cast("long")) ++
      countGroupsOf.toSeq.flatMap(g => Seq(
        count_distinct(col(g)).cast("long"),
        max(when(col(g).isNull, 1L).otherwise(0L))))
    val dm = df.agg(aggs.head, aggs.tail: _*).head()
    val idIdx = valueCols.size * 2
    if (!dm.isNullAt(idIdx)) {
      require(dm.getLong(idIdx) >= 0L &&
          dm.getLong(idIdx + 1) < 1000000000L,
        s"$op: $idCol must sit in [0, 1e9) for the value*1e9 + id " +
          s"composite order to stay collision-free; got " +
          s"[${dm.getLong(idIdx)}, ${dm.getLong(idIdx + 1)}]")
      valueCols.zipWithIndex.foreach { case (c, i) =>
        if (!dm.isNullAt(2 * i))
          require(dm.getLong(2 * i) >= -maxAbsV &&
              dm.getLong(2 * i + 1) <= maxAbsV,
            s"$op: $c must sit in [-$maxAbsV, $maxAbsV] for " +
              s"value*1e9 + id to stay exact in long; got " +
              s"[${dm.getLong(2 * i)}, ${dm.getLong(2 * i + 1)}]")
      }
    }
    countGroupsOf.map { _ =>
      val base = idIdx + 2 // count_distinct and the null-group flag
      dm.getLong(base) + (if (dm.isNullAt(base + 1)) 0L
        else dm.getLong(base + 1))
    }
  }

  /** Per-group EXACT Spearman rank correlation — the monotone-
    * association statistic of a feature pipeline, made hash-exact by
    * ranking on the (value, tie) COMPOSITE total order (unique ranks,
    * no tie-averaging) and using the no-ties closed form
    *
    *   ρ_micro = 10⁶ − (6·10⁶·Σd²) div (n·(n²−1)),  d = rank_x − rank_y
    *
    * — all integral (Σd² ≤ n³ rides DECIMAL(38,0)), signed, 10⁶ =
    * perfect concordance, −10⁶ = perfect discordance. Pearson's r
    * needs a square root and r² overflows any fixed decimal at scale
    * (sxy² ~ 10⁴⁸); the composite-rank Spearman is the correlation a
    * cross-engine gate CAN pin bit-for-bit, and the tiebreak makes it
    * deterministic on tied data (documented: ties are broken by
    * `idCol`, so this is Spearman OF THE TIEBROKEN ORDER, not the
    * tie-averaged textbook variant). Both rank passes ride
    * [[EventAnalytics.rankFeaturesSkewSafe]] (a mega-group never
    * lands in one task) and join back on (group, id). Contracts:
    * `idCol` unique non-null within its group; all of `idCol`,
    * `xCol`, `yCol` INTEGRAL types (scale doubles to micro longs
    * first — r13's guard cast doubles through long, letting a
    * fractional just-over-bound value slip through truncation);
    * value·10⁹ + id must stay exact in long (value magnitudes
    * ≤ 9.2·10⁹, ids in [0, 10⁹)) — ENFORCED by a dtype check plus a
    * one-row min/max aggregate before the plan builds
    * (VERDICT r12 #1, the PPS-guard discipline): an
    * out-of-domain input THROWS instead of silently corrupting the
    * composite rank order (a negative or ≥10⁹ id collides ranks
    * across adjacent values; an oversized value wraps long).
    * Single-row groups are dropped (ρ undefined). Output:
    * (key, n, sd2, rho_micro). */
  def spearmanExact(df: DataFrame, keyCol: String, idCol: String,
      xCol: String, yCol: String): DataFrame = {
    requireCompositeDomain(df, "spearmanExact", idCol,
      Seq(xCol, yCol))
    spearmanExactPreGuarded(df, keyCol, idCol, xCol, yCol)
  }

  /** [[spearmanExact]] WITHOUT the composite-domain guard — for
    * callers that already guarded a SUPERSET frame once (e.g.
    * [[graft.ops.EventAnalytics.rankAutocorr]], whose per-lag pair
    * frames all draw ids and values from one guarded base; running
    * the one-row max/min aggregate per lag would re-evaluate each
    * pair join just to re-prove the same bound). Never call with an
    * unguarded frame: the guard is what keeps an out-of-domain input
    * a THROW instead of silent rank corruption. */
  private[ops] def spearmanExactPreGuarded(df: DataFrame,
      keyCol: String, idCol: String, xCol: String, yCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = df.select(col(keyCol), col(idCol), col(xCol),
      col(yCol))
      .withColumn("__ox", col(xCol) * lit(1000000000L) + col(idCol))
      .withColumn("__oy", col(yCol) * lit(1000000000L) + col(idCol))
    val rx = EventAnalytics.rankFeaturesSkewSafe(
        base.select(col(keyCol), col(idCol), col("__ox")),
        keyCol, "__ox", 1)
      .select(col(keyCol).as("__kx"), col(idCol).as("__ix"),
        col("rank").as("__rx"), col("n"))
    val ry = EventAnalytics.rankFeaturesSkewSafe(
        base.select(col(keyCol), col(idCol), col("__oy")),
        keyCol, "__oy", 1)
      .select(col(keyCol).as("__ky"), col(idCol).as("__iy"),
        col("rank").as("__ry"))
    rx.join(ry, col("__kx") === col("__ky") &&
        col("__ix") === col("__iy"))
      .withColumn("__d", (col("__rx") - col("__ry")).cast(d38))
      .groupBy(col("__kx").as(keyCol))
      .agg(max(col("n")).as("n"),
        sum(expr("__d * __d")).cast(d38).as("__sd2"))
      .filter(col("n") > 1)
      .withColumn("sd2", expr("CAST(__sd2 AS BIGINT)"))
      .withColumn("rho_micro", expr(
        "CAST(1000000 - (CAST(6000000 AS DECIMAL(38,0)) * __sd2) div " +
          "(CAST(n AS DECIMAL(38,0)) * n * n - n) AS BIGINT)"))
      .select(col(keyCol), col("n"), col("sd2"), col("rho_micro"))
  }

  /** Per-group EXACT Kendall rank correlation — τ OF THE TIEBROKEN
    * ORDER, the concordance companion to [[spearmanExact]] (Spearman
    * weighs rank displacement, Kendall counts pairwise order
    * agreements — the robust-statistics pair): with ranks on the
    * (value, id) composite total orders there are no ties, so
    *
    *   τ_micro = 10⁶ − (4·10⁶·D) div (n·(n−1)),   D = discordant pairs
    *
    * — all integral (D ≤ n²/2 rides DECIMAL(38,0)), 10⁶ = perfect
    * concordance, −10⁶ = perfect reversal. The previously-skipped
    * hard part is counting D = #{i,j : ox_i < ox_j ∧ oy_i > oy_j}
    * without an all-pairs join; the distributed plan splits D into
    * two DISJOINT parts by a bucketing of the y composite order
    * (boundaries = approximate per-group (j/B)-quantiles of `__oy`
    * from [[kendallGraded]]'s one map-side aggregate). The count is
    * exact for ANY monotone bucketing, so the bounds only balance the
    * cells: at the derived accuracy A = max(10⁴, 100·B) a bound's rank
    * is within n/A of its target, and every (group, bucket) cell holds
    * n/B ± (2n/A + 1) rows no matter how hot a key or value is:
    *
    *  - CROSS-bucket pairs need NO value comparison — a pair in
    *    different y buckets is discordant iff the earlier-x row sits
    *    in a strictly HIGHER y bucket. B running-count lanes over
    *    the x order ([[EventAnalytics.runningAggsSkewSafe]], one
    *    two-pass plan for all lanes) give each row the count of
    *    earlier rows per bucket; summing the strictly-higher lanes
    *    and reducing per group counts every cross pair exactly once.
    *  - SAME-bucket pairs ride a cell-keyed equi self-join
    *    ((group, bucket) SMJ + the two order filters): per-cell pair
    *    work is about (n/B)²/2 with balanced cells, so
    *    `buckets` is the knob trading lane count for cell width —
    *    total work O(n²/B + n·B) with NO all-pairs stage and no
    *    skewable task anywhere.
    *
    * Sizing B (MEASURED, KendallScale sweep + SCALE.md round-15):
    * minimizing α·n²/B + β·n·B gives B* = √(α/β · n) — B grows with
    * √n, NOT with n (the r14-documented "B ∝ n for fixed cell width"
    * contract is falsified by the sweep: at 4× data, B=128 costs 4×
    * the B=32 arm — the lane term β·n·B dominates long before the
    * cell term, and fixed cell width makes the LANES quadratic).
    * Measured α/β ≈ 0.034 on the orders gate shape (optimum B ≈ 32
    * at both n_g = 30k and 120k), so B* ≈ 0.19·√n_g; past the
    * ~128-lane per-column encoding bound the lanes become a
    * (bucket, count) tall frame, same math.
    *
    * Same contracts as [[spearmanExact]] (integral dtypes, id ∈
    * [0, 1e9), |v| ≤ maxAbsV — enforced by the shared guard; `idCol`
    * unique per group). Rows whose id, x or y is null are dropped
    * before n and D are counted, as [[madOutliers]] drops null values,
    * and so are rows with a null key; single-row groups are dropped
    * (τ undefined). Output: (key, n, d_pairs, tau_micro). */
  def kendallTauExact(df: DataFrame, keyCol: String, idCol: String,
      xCol: String, yCol: String, buckets: Int = 8): DataFrame = {
    // Upper bound = plan width, not correctness: each bucket is one
    // running-count lane (a column) and one crossContrib term; 128
    // lanes stays comfortably inside whole-stage codegen's method
    // limits (measured by the KendallScale sweep's B∝n arm). The
    // 100 TB contract B ∝ n/c eventually outgrows any per-column lane
    // encoding — at that point the lanes become a (bucket, count) tall
    // frame, same math.
    require(buckets >= 2 && buckets <= 128,
      s"kendallTauExact: buckets must sit in [2, 128], got $buckets")
    val d38 = "decimal(38,0)"
    // the bucketed frame feeds THREE consumers (the lane prefix and
    // both self-join sides); kendallGraded checkpoints it
    val bucketed = kendallGraded(df, "kendallTauExact", keyCol, idCol,
      xCol, yCol, Seq(("__oy", buckets, "__bkt")))
    // cross-bucket: B running-count lanes over the x order; a row's
    // contribution is the earlier-row count of every STRICTLY HIGHER
    // bucket (its own lane's inclusive self never counts — self sits
    // in its own bucket, not a higher one)
    val withInd = (0 until buckets).foldLeft(bucketed)((d, b) =>
      d.withColumn(s"__i$b",
        when(col("__bkt") === b + 1, 1L).otherwise(0L)))
    val pre = EventAnalytics.runningAggsSkewSafe(withInd, keyCol,
      "__ox", (0 until buckets).map(b => (s"__i$b", "sum", s"__p$b")))
    val crossContrib = (0 until buckets).map(b =>
        when(col("__bkt") < b + 1, col(s"__p$b")).otherwise(lit(0L)))
      .reduce(_ + _)
    val cross = pre.withColumn("__cx", crossContrib.cast(d38))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__cx")).cast(d38).as("__cross"))
    // same-bucket: cell-keyed equi self-join over balanced cells —
    // no all-pairs, no skewable cell
    val a = bucketed.select(col(keyCol).as("__k"), col("__bkt"),
      col("__ox").as("__ax"), col("__oy").as("__ay"))
    val b2 = bucketed.select(col(keyCol).as("__k2"),
      col("__bkt").as("__bkt2"), col("__ox").as("__bx"),
      col("__oy").as("__by"))
    val within = a.join(b2,
        col("__k") === col("__k2") && col("__bkt") === col("__bkt2") &&
          col("__ax") < col("__bx") && col("__ay") > col("__by"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).cast(d38).as("__within"))
    cross.join(within, col(keyCol) === col("__k"), "left")
      .drop("__k")
      .filter(col("n") > 1)
      .withColumn("__dd", expr(
        s"CAST(__cross + COALESCE(__within, CAST(0 AS $d38)) AS $d38)"))
      .withColumn("d_pairs", expr("CAST(__dd AS BIGINT)"))
      .withColumn("tau_micro", expr(
        "CAST(1000000 - (CAST(4000000 AS DECIMAL(38,0)) * __dd) div " +
          "(CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"))
      .select(col(keyCol), col("n"), col("d_pairs"), col("tau_micro"))
  }

  /** [[kendallTauExact]]'s TALL form (r16, VERDICT r15 #3) — the
    * (group, cell)-keyed count-frame variant the corrected B* ∝ √n
    * contract requires past the ~128-lane per-column encoding bound:
    * no per-bucket COLUMNS anywhere, so `buckets` can follow
    * B* ≈ 0.19·√n_g into the thousands (B* ≈ 6k at n_g = 10⁹, where
    * the column form's whole-stage-codegen method limits died at
    * ~128). Same math, carried by a SECOND balanced axis:
    *
    * grid the data by (x-slice s ∈ [1,S], y-bucket b ∈ [1,B]) — both
    * axes approximate per-group equi-depth quantiles of the composite
    * orders from the same one map-side aggregate of [[kendallGraded]]
    * (accuracy max(10⁴, 100·k) per axis, so each slice holds
    * n/S ± (2n/A + 1) rows and each bucket n/B ± (2n/A + 1) no matter
    * the skew) — and split the discordant pairs THREE disjoint ways
    * (exact for ANY monotone slicing and bucketing; the bounds only
    * balance the cells):
    *
    *  - DIFFERENT slice, DIFFERENT bucket: no row comparison at all —
    *    slices are x-ordered (s_i < s_j ⇒ ox_i < ox_j) and buckets
    *    y-ordered, so the pair is discordant iff s_i < s_j ∧
    *    b_i > b_j, and the count is Σ n_{s₁,b₁}·n_{s₂,b₂} over
    *    dominating cell pairs — computed from the TALL
    *    (group, slice, bucket, n) cell frame alone (≤ S·B rows per
    *    group) by two sketch-sized window prefix passes over the
    *    densified grid (absent cells must materialize as zeros: a
    *    cell's dominance sum reads earlier-slice counts of buckets
    *    the cell's own slice never saw).
    *  - SAME slice: a (group, slice)-keyed equi self-join with both
    *    order filters (ox < ox' ∧ oy > oy') — balanced n/S-row cells,
    *    about (n/S)²/2 pair work.
    *  - SAME bucket, different slice: a (group, bucket)-keyed equi
    *    self-join — the slice order already settles the x comparison
    *    (s_a < s_b ⇒ ox_a < ox_b), leaving one y filter.
    *
    * Total work O(n²/S + n²/B + S·B) per group with S·B cell-frame
    * state — at S = B the optimum is B* ∝ n^⅔ in principle, but the
    * measured α/β ≈ 0.034 lane economics of the COLUMN form carry
    * over as cell economics, and the gate pins B = S = 32 ≡ q246.
    * Same contracts as [[kendallTauExact]] (integral dtypes, id ∈
    * [0, 1e9) via the shared guard; null id, x, y or key rows and
    * single-row groups dropped); IDENTICAL output schema and values:
    * (key, n, d_pairs, tau_micro). */
  def kendallTauExactTall(df: DataFrame, keyCol: String,
      idCol: String, xCol: String, yCol: String, buckets: Int = 32,
      slices: Int = 0): DataFrame = {
    val bN = buckets
    val sN = if (slices > 0) slices else buckets
    // bound = densified-grid state per group (S·B rows), not plan
    // width — the point of the tall form
    require(bN >= 2 && bN <= 65536 && sN >= 2 && sN <= 65536,
      s"kendallTauExactTall: buckets/slices must sit in [2, 65536], " +
        s"got $bN/$sN")
    val d38 = "decimal(38,0)"
    // the graded frame feeds FOUR consumers (cell frame, n frame,
    // both self-join sides); kendallGraded checkpoints it
    val graded = kendallGraded(df, "kendallTauExactTall", keyCol, idCol,
      xCol, yCol, Seq(("__oy", bN, "__bkt"), ("__ox", sN, "__slc")))
    // tall cell frame + densified grid: the cross-cell count's ONLY
    // input — S·B rows per group, data-size-independent
    val cells = graded.groupBy(col(keyCol), col("__slc"), col("__bkt"))
      .agg(count(lit(1)).as("__cn"))
    val dense = cells.select(col(keyCol)).distinct()
      .select(col(keyCol),
        explode(sequence(lit(1), lit(sN))).as("__slc"))
      .select(col(keyCol), col("__slc"),
        explode(sequence(lit(1), lit(bN))).as("__bkt"))
      .join(cells, Seq(keyCol, "__slc", "__bkt"), "left")
      .withColumn("__cn", coalesce(col("__cn"), lit(0L)))
    import org.apache.spark.sql.expressions.Window
    val wEarlier = Window.partitionBy(col(keyCol), col("__bkt"))
      .orderBy(col("__slc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wHigher = Window.partitionBy(col(keyCol), col("__slc"))
      .orderBy(col("__bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // m = rows in EARLIER slices of the same bucket; g = Σ m over
    // STRICTLY HIGHER buckets — every (earlier-x, higher-y) cell pair
    // counted exactly once as n·g
    val gridD = dense
      .withColumn("__m", coalesce(sum(col("__cn")).over(wEarlier),
        lit(0L)))
      .withColumn("__g", coalesce(sum(col("__m")).over(wHigher),
        lit(0L)))
      .groupBy(col(keyCol))
      .agg(sum(expr(s"CAST(__cn AS $d38) * __g")).cast(d38)
        .as("__grid"))
    // same-slice pairs: full discordance check inside n/S-row cells
    val sa = graded.select(col(keyCol).as("__k1"), col("__slc"),
      col("__ox").as("__ax"), col("__oy").as("__ay"))
    val sb = graded.select(col(keyCol).as("__k2"),
      col("__slc").as("__slc2"), col("__ox").as("__bx"),
      col("__oy").as("__by2"))
    val sameSlice = sa.join(sb,
        col("__k1") === col("__k2") && col("__slc") === col("__slc2") &&
          col("__ax") < col("__bx") && col("__ay") > col("__by2"))
      .groupBy(col("__k1"))
      .agg(count(lit(1)).cast(d38).as("__ss"))
    // same-bucket pairs across slices: the slice order settles x
    val ba = graded.select(col(keyCol).as("__k3"), col("__bkt"),
      col("__slc").as("__sa"), col("__oy").as("__ya"))
    val bb = graded.select(col(keyCol).as("__k4"),
      col("__bkt").as("__bkt2"), col("__slc").as("__sb"),
      col("__oy").as("__yb"))
    val sameBucket = ba.join(bb,
        col("__k3") === col("__k4") && col("__bkt") === col("__bkt2") &&
          col("__sa") < col("__sb") && col("__ya") > col("__yb"))
      .groupBy(col("__k3"))
      .agg(count(lit(1)).cast(d38).as("__sb2"))
    graded.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .join(gridD, Seq(keyCol), "left")
      .join(sameSlice, col(keyCol) === col("__k1"), "left").drop("__k1")
      .join(sameBucket, col(keyCol) === col("__k3"), "left").drop("__k3")
      .filter(col("n") > 1)
      .withColumn("__dd", expr(
        s"CAST(COALESCE(__grid, CAST(0 AS $d38)) + " +
          s"COALESCE(__ss, CAST(0 AS $d38)) + " +
          s"COALESCE(__sb2, CAST(0 AS $d38)) AS $d38)"))
      .withColumn("d_pairs", expr("CAST(__dd AS BIGINT)"))
      .withColumn("tau_micro", expr(
        "CAST(1000000 - (CAST(4000000 AS DECIMAL(38,0)) * __dd) div " +
          "(CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"))
      .select(col(keyCol), col("n"), col("d_pairs"), col("tau_micro"))
  }

  /** GK accuracy of a k-cell axis: a bound's rank error is at most
    * n/accuracy, about 1 % of a cell's n/k. */
  private[graft] def kendallAccuracy(k: Int): Int = math.max(10000, 100 * k)

  /** The graded frame both Kendall forms count on, localCheckpointed
    * (eager: a lazy checkpoint still materialises every upstream
    * shuffle stage when it takes the plan's RDD): after the composite-
    * domain guard, the rows of `df` with a non-null id, x and y as
    * (key, __ox, __oy) composite orders plus, per axis
    * (ordCol, k, cellCol), the row's cell in [1, k] among the
    * per-group approximate (j/k)-quantiles of `ordCol`. All axes'
    * bounds come from ONE `percentile_approx` aggregate per group,
    * attached by an AQE-broadcast equi join (≤ |groups| rows).
    * Partial aggregation merges fixed-size GK summaries (Greenwald &
    * Khanna, SIGMOD 2001), so a mega-group never sends its rows to
    * one task; at [[kendallAccuracy]] every cell holds
    * n/k ± (2n/accuracy + 1) rows. */
  private[graft] def kendallGraded(df: DataFrame, op: String,
      keyCol: String, idCol: String, xCol: String, yCol: String,
      axes: Seq[(String, Int, String)]): DataFrame = {
    requireCompositeDomain(df, op, idCol, Seq(xCol, yCol))
    val base = df
      .filter(col(idCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .select(col(keyCol),
        (col(xCol) * lit(1000000000L) + col(idCol)).as("__ox"),
        (col(yCol) * lit(1000000000L) + col(idCol)).as("__oy"))
    val bnds = axes.map { case (ordCol, k, cellCol) =>
      percentile_approx(col(ordCol),
          lit((1 until k).map(_.toDouble / k).toArray),
          lit(kendallAccuracy(k)))
        .as(s"__b$cellCol")
    }
    val withBnds = base.join(
        base.groupBy(col(keyCol).as("__bk")).agg(bnds.head, bnds.tail: _*),
        col(keyCol) === col("__bk"))
      .drop("__bk")
    axes.foldLeft(withBnds) { case (d, (ordCol, k, cellCol)) =>
      d.withColumn(cellCol,
          (1 until k).map(i =>
            when(col(ordCol) > element_at(col(s"__b$cellCol"), i), 1)
              .otherwise(0))
            .reduce(_ + _) + lit(1))
        .drop(s"__b$cellCol")
    }.localCheckpoint()
  }

  /** CONTINGENCY association profile between two categorical
    * columns — the STATISTICAL-dependence half of schema discovery
    * beside the FD map ([[fdProfile]] finds deterministic
    * dependence; this measures association strength cell by cell):
    * one row per observed (a, b) cell with its count, both
    * marginals, and the integer independence deviation
    *
    *   dev_num = |n·cnt − row_n·col_n|
    *
    * — the EXACT numerator χ²'s per-cell terms, Cramér's V and
    * mutual information are all read from (each divides or logs it,
    * which no cross-engine gate can hash; the raw integer deviation
    * rows gate bit-for-bit and show WHERE the dependence lives —
    * the binned-TVD discipline applied to the χ² family).
    * dev_num = 0 for every cell ⇔ the two columns are exactly
    * independent in the rational sense. Plan: ONE (a, b) count
    * aggregate over one scan (map-side combinable, ≤|A|·|B| rows);
    * both marginals are roll-ups of THAT count frame — the data is
    * never rescanned; the 1-row grand total attaches by broadcast
    * (allowlisted). Nulls excluded per the family contract. Domain:
    * dev_num ≤ n·cnt ≤ n², so the BIGINT cell rows are exact for
    * n ≤ 3·10⁹ rows (the CvM-style documented bound; beyond it run
    * the summary form [[associationMap]], whose micro output only
    * needs DECIMAL(38,0) internally — exact to n ≈ 10¹⁵). */
  def contingencyProfile(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("cnt"))
    val ra = cells.groupBy(col(aCol))
      .agg(sum(col("cnt")).as("row_n"))
      .select(col(aCol).as("__a2"), col("row_n"))
    val cb = cells.groupBy(col(bCol))
      .agg(sum(col("cnt")).as("col_n"))
      .select(col(bCol).as("__b2"), col("col_n"))
    val tot = cells.agg(sum(col("cnt")).as("n"))
    cells.join(ra, col(aCol) === col("__a2")).drop("__a2")
      .join(cb, col(bCol) === col("__b2")).drop("__b2")
      .crossJoin(broadcast(tot)) // 1-row grand-total attach
      .withColumn("dev_num", expr(
        s"CAST(abs(CAST(n AS $d38) * cnt - " +
          s"CAST(row_n AS $d38) * col_n) AS BIGINT)"))
      .select(col(aCol), col(bCol), col("cnt"), col("row_n"),
        col("col_n"), col("n"), col("dev_num"))
  }

  /** ASSOCIATION MAP over every unordered column pair — the
    * statistical companion to the FD map ([[fdProfile]] answers
    * "does a DETERMINE b"; this answers "how far from independent
    * are a and b", symmetric): for each pair, the total-variation
    * distance between the observed JOINT distribution and the
    * product of the marginals,
    *
    *   assoc_micro = (10⁶ · Σ_cells |n·cnt − row_n·col_n|) div (2·n²)
    *
    * — 0 = exactly independent, →10⁶ = deterministic coupling; the
    * same integer TVD discipline as the drift family, where χ² / MI
    * / Cramér's V cannot hash cross-engine (per-cell divisions and
    * logs). Per pair: one (a, b) count aggregate over one scan
    * (map-side combinable, ≤|A|·|B| rows) with marginals rolled up
    * from THAT frame — C(k, 2) count jobs for k columns, the
    * [[fdProfile]] cost discipline; every intermediate product rides
    * DECIMAL(38,0) (|n·cnt − ra·cb| ≤ n², summed over ≤n cells).
    * Pairs drill down with [[contingencyProfile]], which shows WHERE
    * the dependence lives. Nulls excluded per pair (the family
    * contract — a pair's n is its both-non-null row count); a pair
    * with NO both-non-null rows is dropped entirely (association is
    * undefined there, and an all-null pair emitting a row would
    * diverge from any GROUP-BY-generated oracle and from
    * [[contingencyProfile]]'s empty-input behavior). Output:
    * (col_a, col_b, n, cells, assoc_micro), one row per surviving
    * pair in the given column order. */
  def associationMap(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.distinct.size == cols.size,
      s"associationMap: need >= 2 distinct columns, got $cols")
    val d38 = "decimal(38,0)"
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    pairs.map { case (a, b) =>
      val cells = df
        .filter(col(a).isNotNull && col(b).isNotNull)
        .groupBy(col(a).as("__a"), col(b).as("__b"))
        .agg(count(lit(1)).as("cnt"))
      val ra = cells.groupBy(col("__a"))
        .agg(sum(col("cnt")).as("__ra"))
        .select(col("__a").as("__a2"), col("__ra"))
      val cb = cells.groupBy(col("__b"))
        .agg(sum(col("cnt")).as("__cb"))
        .select(col("__b").as("__b2"), col("__cb"))
      val tot = cells.agg(sum(col("cnt")).as("__n"))
      cells.join(ra, col("__a") === col("__a2")).drop("__a2")
        .join(cb, col("__b") === col("__b2")).drop("__b2")
        .crossJoin(broadcast(tot)) // 1-row grand-total attach
        .agg(coalesce(max(col("__n")), lit(0L)).as("n"),
          count(lit(1)).as("cells"),
          coalesce(sum(expr(s"abs(CAST(__n AS $d38) * cnt - " +
              s"CAST(__ra AS $d38) * __cb)")).cast(d38),
            lit(0).cast(d38)).as("__s"))
        .filter(col("n") > 0L) // all-null pair -> no row (undefined)
        .withColumn("assoc_micro", expr(
          s"CAST((CAST(1000000 AS $d38) * __s) div " +
            s"(2 * CAST(n AS $d38) * n) AS BIGINT)"))
        .select(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
          col("cells"), col("assoc_micro"))
    }.reduce(_ unionByName _)
  }

  /** Per-group EXACT equi-depth (equi-height) histogram — the
    * optimizer/ANALYZE statistic beside [[profile]]: k buckets of
    * (near-)equal row count per group, each with its exact value
    * range. Rows rank by the skew-safe prefix count
    * ([[EventAnalytics.rankFeaturesSkewSafe]] — a mega-group never
    * lands in one task), bucket by NTILE semantics (the first
    * n mod k buckets take the extra row — deterministic, no RNG,
    * DuckDB-replayable), then ONE map-side-combinable roll-up per
    * (group, bucket): count, lo, hi. Boundary equals an exact
    * percentile at every bucket edge, so this is the equi-height
    * histogram a cost model consumes. Same unique non-null `ordCol`
    * total-order contract as every exact rank. */
  def equiDepthHistogram(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, k: Int): DataFrame =
    EventAnalytics.rankFeaturesSkewSafe(df, keyCol, ordCol, k)
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col(valueCol)).as("lo"),
        max(col(valueCol)).as("hi"))

  /** BINNED drift per reference quantile — the PSI monitoring setup
    * with the logs removed: production ML monitoring bins by the
    * REFERENCE sample's k-quantiles and compares the two samples'
    * bucket masses; PSI then sums (p−q)·ln(p/q) per bucket, which no
    * cross-engine gate can hash. The log-free form keeps the setup
    * and emits the integer TVD deviation per bucket instead:
    * one row per non-empty bucket, (bucket, ca, cb,
    * dev_num = |ca·n₂ − cb·n₁|) — Σ dev_num / 2n₁n₂ is exactly the
    * binned TVD, and the per-bucket rows show WHERE the mass moved
    * (what PSI's per-bucket terms are read for).
    *
    * Boundaries are the reference's exact (j/k)-quantiles
    * ([[EventAnalytics.groupPercentilesSkewSafe]] over the
    * (value, tie) total order — `tieCol` non-null unique, value
    * magnitudes < 2⁵³/10⁹ so the composite ord stays exact);
    * duplicates among boundaries skip buckets (deterministically —
    * an empty bucket between equal deciles). `k` must divide 10⁶ so
    * j/k is exact in the percentile op's micro grid. Bucket of x =
    * 1 + #{boundaries < x}: ≤ k−1 boundary values attach as ONE
    * sorted array in a 1-row broadcast (allowlisted), and the bucket
    * folds as chained whens — no per-boundary join, no lambda in a
    * grouping expression. Contract: the reference sample must be
    * non-empty (a k-quantile of nothing is undefined — same contract
    * as the solo drift tests). */
  def binnedTvdDrift(df: DataFrame, valueCol: String, tieCol: String,
      sampleCol: String, a: String, b: String, k: Int): DataFrame = {
    require(k >= 2 && 1000000 % k == 0,
      s"binnedTvdDrift: k must divide 10^6, got $k")
    val boundaries = binnedRefBoundaries(
      df.filter(col(sampleCol) === a), valueCol, tieCol, k)
    val both = df.filter(col(sampleCol) === a || col(sampleCol) === b)
      .filter(col(valueCol).isNotNull)
    val bucketed = bucketByBoundaries(both, valueCol, boundaries, k)
    binnedTvdTail(bucketed.groupBy(col("bucket"))
      .agg(sum(when(col(sampleCol) === a, 1L).otherwise(0L)).as("ca"),
        sum(when(col(sampleCol) === b, 1L).otherwise(0L)).as("cb")))
  }

  /** The reference's (k−1) exact quantile boundaries as a one-column
    * frame `(v)` — the PERSISTABLE half of the binned drift check
    * (standing rule 1: the reference sample is scanned once when the
    * boundary model is built). */
  def binnedRefBoundaries(ref: DataFrame, valueCol: String,
      tieCol: String, k: Int): DataFrame = {
    require(k >= 2 && 1000000 % k == 0,
      s"binnedRefBoundaries: k must divide 10^6, got $k")
    // null reference values are excluded BEFORE the quantile pass —
    // the same family contract the counted probe side honors
    // (ADVICE r13: a null value yields a null composite ord inside
    // groupPercentilesSkewSafe, which contracts non-null ord, so a
    // nullful reference could silently skew the persisted
    // boundaries while the counted frame excludes those rows)
    val refNn = ref.filter(col(valueCol).isNotNull)
    // same composite-ord domain enforcement as spearmanExact
    // (VERDICT r12 #1): value·10⁹ + tie must stay exact and
    // collision-free in long, and this runs once per boundary BUILD
    // (the persisted artifact), so the one-row check is free
    requireCompositeDomain(refNn, "binnedRefBoundaries", tieCol,
      Seq(valueCol))
    val ps = (1 until k).map(j => j.toLong * (1000000L / k))
    EventAnalytics.groupPercentilesSkewSafe(
        refNn.withColumn("__g", lit(0))
          .withColumn("__bord",
            col(valueCol) * lit(1000000000L) + col(tieCol)),
        "__g", "__bord", valueCol, ps)
      .select(col(valueCol).as("v"))
  }

  /** Bucket rows by a persisted boundary frame: ≤ k−1 boundary rows
    * collapse to ONE sorted array in a 1-row broadcast and the bucket
    * folds as chained whens (bucket = 1 + #{boundaries < x}). */
  private def bucketByBoundaries(df: DataFrame, valueCol: String,
      boundaries: DataFrame, k: Int): DataFrame = {
    val bnds = boundaries
      .agg(sort_array(collect_list(col("v"))).as("__bnds"))
    df.crossJoin(broadcast(bnds)) // 1-row attach
      .withColumn("bucket",
        (1 until k).map(i =>
          when(col(valueCol) > element_at(col("__bnds"), i), 1L)
            .otherwise(0L))
        .reduceOption(_ + _).getOrElse(lit(0L)) + lit(1L))
  }

  /** Shared tail: per-bucket (ca, cb) counts → the totals attach and
    * the integer TVD deviation rows. */
  private def binnedTvdTail(cnt: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val totals = cnt.agg(sum(col("ca")).as("n1"),
      sum(col("cb")).as("n2"))
    cnt.crossJoin(broadcast(totals)) // 1-row totals attach
      .withColumn("dev_num", expr(
        s"CAST(abs(CAST(ca AS $d38) * n2 - CAST(cb AS $d38) * n1) " +
          "AS BIGINT)"))
      .select(col("bucket"), col("ca"), col("cb"), col("dev_num"))
  }

  /** Binned drift of a probe batch AGAINST persisted reference
    * artifacts — the steady-state twin of [[binnedTvdDrift]]
    * (standing rule 1): `boundaries` = [[binnedRefBoundaries]]
    * output, `refBucketCounts` = the reference's own bucket masses
    * `(bucket, ref_n)`, both built once; each batch check buckets
    * only the batch and joins two ≤k-row count frames. Buckets where
    * only one side has mass zero-fill, so the result is
    * hash-identical to the in-query form on (reference ∪ probe). */
  def binnedTvdDriftAgainstRef(boundaries: DataFrame,
      refBucketCounts: DataFrame, probe: DataFrame, valueCol: String,
      k: Int): DataFrame = {
    val p = bucketByBoundaries(
        probe.filter(col(valueCol).isNotNull), valueCol, boundaries, k)
      .groupBy(col("bucket")).agg(count(lit(1)).as("__pn"))
      .select(col("bucket").as("__pb"), col("__pn"))
    binnedTvdTail(refBucketCounts
      .join(p, col("bucket") === col("__pb"), "full_outer")
      .select(coalesce(col("bucket"), col("__pb")).as("bucket"),
        coalesce(col("ref_n"), lit(0L)).as("ca"),
        coalesce(col("__pn"), lit(0L)).as("cb")))
  }

  def groupOutliers(df: DataFrame, groupCol: String, idCols: Seq[String],
      valueCentiCol: String, z: Int): DataFrame = {
    val d38 = "decimal(38,0)"
    val stats = df.groupBy(col(groupCol)).agg(
      count(lit(1)).cast(d38).as("__n"),
      sum(col(valueCentiCol).cast(d38)).cast(d38).as("__s"),
      sum((col(valueCentiCol) * col(valueCentiCol)).cast(d38))
        .cast(d38).as("__q"))
    val dev = col("__n") * col(valueCentiCol) - col("__s")
    val varTerm = col("__n") * col("__q") - col("__s") * col("__s")
    df.join(broadcast(stats), Seq(groupCol))
      .filter(dev * dev > lit(z * z) * varTerm)
      .select((col(groupCol) +: idCols.map(col)) :+
        col(valueCentiCol): _*)
  }

  /** ROBUST per-group outliers by median absolute deviation — the
    * heavy-tail companion to [[groupOutliers]]' moment z-score (one
    * planted mega-outlier inflates σ and MASKS its neighbors; the
    * median and MAD barely move). Flags rows with
    * |v − median| > z · MAD, z in micros, entirely in integers via
    * DOUBLED units: med2 = median_lo + median_hi (= 2·median exactly,
    * even-n midpoint included), d2 = |2v − med2|, mad4 = d2's own
    * median_lo + median_hi (= 4·MAD), flag ⇔ 2·d2·10⁶ > z·mad4 — no
    * halving ever happens, so Spark and the oracle agree bit-exact.
    *
    * Two skew-safe median passes ([[EventAnalytics
    * .groupMedianSkewSafe]] on value-major composite orders — a
    * mega-group never strands a task), each ≤|groups|-row result
    * broadcast back. Both composites are domain-guarded (the
    * deviation composite re-checked on the derived frame: d2 can be
    * 2× the input bound, and a silent wrap would corrupt the second
    * rank order). Degenerate MAD = 0 (over half the group at the
    * median) flags every off-median row — the documented limit of
    * the estimator, not a bug. Output: flagged rows
    * `(group, id, v, dev4 = 4·|v−median|, mad4 = 4·MAD)`. */
  def madOutliers(df: DataFrame, groupCol: String, idCol: String,
      valueCentiCol: String, zMicro: Long): DataFrame = {
    require(zMicro > 0, "madOutliers: zMicro must be > 0")
    // r20 (VERDICT r19 #1): count groups in the guard action — an
    // UPPER bound for base's groups (the null-value filter below can
    // only drop groups), which is the safe direction for the pick
    // plan's ≤4M broadcast bound
    val nG = requireCompositeDomain(df, "madOutliers", idCol,
      Seq(valueCentiCol), countGroupsOf = Some(groupCol))
    // localCheckpoint both multi-consumer frames (q150/q246
    // discipline): base feeds the first median's passes + the dev
    // build; dev2 feeds its own guard, the second median's passes
    // and the final flag join — without the checkpoint each
    // consumer re-runs the scan (and, for dev2, the first median
    // chain) from the source.
    val base = df.filter(col(valueCentiCol).isNotNull)
      .select(col(groupCol), col(idCol), col(valueCentiCol))
      .withColumn("__ord",
        col(valueCentiCol) * lit(1000000000L) + col(idCol))
      .localCheckpoint()
    val med = EventAnalytics.groupMedianSkewSafe(base, groupCol,
        "__ord", valueCentiCol, knownGroups = nG)
      .select(col(groupCol).as("__mg"),
        (col("median_lo") + col("median_hi")).as("__med2"))
    val dev = base.join(broadcast(med), col(groupCol) === col("__mg"))
      .withColumn("__d2",
        abs(col(valueCentiCol) * 2 - col("__med2")))
      .localCheckpoint()
    requireCompositeDomain(dev, "madOutliers(deviations)", idCol,
      Seq("__d2"))
    val dev2 = dev.withColumn("__ord2",
      col("__d2") * lit(1000000000L) + col(idCol))
    val mad = EventAnalytics.groupMedianSkewSafe(
        dev2.select(col(groupCol), col(idCol), col("__d2"),
          col("__ord2")),
        groupCol, "__ord2", "__d2", knownGroups = nG)
      .select(col(groupCol).as("__ag"),
        (col("median_lo") + col("median_hi")).as("__mad4"))
    dev2.join(broadcast(mad), col(groupCol) === col("__ag"))
      .filter(col("__d2") * 2 * lit(1000000L) >
        lit(zMicro) * col("__mad4"))
      .select(col(groupCol), col(idCol), col(valueCentiCol),
        (col("__d2") * 2).as("dev4"), col("__mad4").as("mad4"))
  }

  /** Per-group OLS TREND slope in exact integer arithmetic — the
    * "is this metric drifting and how fast" number beside
    * [[graft.ops.EventAnalytics.cusumCenti]]'s when-did-it-shift:
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), emitted as the exact
    * integer numerator/denominator pair plus `slope_micro` =
    * 10⁶·num div den — TRUNCATING division, which is what BOTH
    * engines' native integral divide does on signed operands (Spark
    * `div` and DuckDB integer `//` each round toward zero; measured,
    * not assumed — a pmod-floor here would diverge on every
    * downward trend). Pearson's r needs a sqrt and is not gate-able;
    * the OLS slope is a pure rational of the four integer moments —
    * ONE map-side-combinable aggregate over one scan, DECIMAL(38,0)
    * internals (n·Σxy overflows long at 10⁹-row groups; the BIGINT
    * num/den outputs document the n·x·y ≲ 9·10¹⁸ gate domain).
    * Groups with zero x-variance drop (slope undefined). */
  def trendSlope(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast(d38).as("__n"),
        sum(col(xCol).cast(d38)).as("__sx"),
        sum(col(yCol).cast(d38)).as("__sy"),
        sum(expr(s"CAST($xCol AS $d38) * $yCol")).as("__sxy"),
        sum(expr(s"CAST($xCol AS $d38) * $xCol")).as("__sxx"))
      .withColumn("__num", expr("__n * __sxy - __sx * __sy"))
      .withColumn("__den", expr("__n * __sxx - __sx * __sx"))
      .filter(col("__den") > 0)
      .select(col(groupCol),
        expr("CAST(__n AS BIGINT)").as("n"),
        expr("CAST(__num AS BIGINT)").as("num"),
        expr("CAST(__den AS BIGINT)").as("den"),
        expr(s"CAST((CAST(1000000 AS $d38) * __num) div __den " +
          "AS BIGINT)").as("slope_micro"))
  }

  /** EXACT ROC-AUC — the classifier/quality-score evaluation number,
    * computed as what it IS: AUC = P(score⁺ > score⁻) + ½·P(tie) =
    * U/(n⁺·n⁻), so the ties-adjusted [[mannWhitneyU]] machinery
    * (doubled-U integer form, skew-safe midrank prefix) already
    * yields it exactly — `auc_micro` here IS that u_micro with the
    * positive class as sample a. One count aggregate + a sketch-sized
    * prefix; no sort of the data, no pairwise join. */
  def aucExact(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    mannWhitneyU(driftCounts(
      df.filter(col(labelCol).isNotNull) // family contract: null labels
        .select(col(scoreCol),           // are excluded, not negatives
          when(col(labelCol), "pos").otherwise("neg").as("__lbl")),
      scoreCol, "__lbl", "pos", "neg"), scoreCol)
      .select(col("n1").as("n_pos"), col("n2").as("n_neg"),
        col("u2"), col("u_micro").as("auc_micro"))

  /** Per-SEGMENT exact ROC-AUC — [[aucExact]] keyed on a group
    * column ("does the quality score rank well per language/source,
    * not just overall" — pooled AUC hides a segment where the score
    * is anti-correlated): the keyed ties-adjusted U per group,
    * one-class groups dropped (AUC undefined). */
  def aucExactBy(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame =
    mannWhitneyU(driftCounts(
      df.filter(col(labelCol).isNotNull) // same null-label exclusion
        .select(col(groupCol), col(scoreCol), // as confusionAt/sweep
          when(col(labelCol), "pos").otherwise("neg").as("__lbl")),
      scoreCol, "__lbl", "pos", "neg", Some(groupCol)),
      scoreCol, Some(groupCol))
      .select(col(groupCol), col("n1").as("n_pos"),
        col("n2").as("n_neg"), col("u2"),
        col("u_micro").as("auc_micro"))

  /** THRESHOLD SWEEP — the full ROC and PR curves as ONE exact
    * table: for every distinct score s (as the rule "predict
    * positive iff score ≥ s", descending), the confusion counts and
    * the four curve coordinates in micros. Built on the score
    * SPECTRUM (per-score label counts, ≤|distinct scores| rows),
    * with tp/fp as skew-safe running sums over it DESCENDING —
    * the data crosses the wire once as counts, and every
    * (threshold, tp, fp, fn, tn, prec, rec = tpr, fpr) row is
    * integral. [[confusionAt]] is one row of this table;
    * trapezoid-integrating tpr over fpr recovers [[aucExact]] up to
    * tie handling. */
  def thresholdSweep(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val spectrum = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("__p"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__q"))
      // descending order via the negated score: running sums then
      // accumulate "mass at or above this threshold"
      .withColumn("__ord", -col(scoreCol))
      .withColumn("__g", lit(0))
    val cum = EventAnalytics.runningAggsSkewSafe(spectrum, "__g",
      "__ord", Seq(("__p", "sum", "tp"), ("__q", "sum", "fp")))
    val totals = spectrum.agg(sum(col("__p")).as("__np"),
      sum(col("__q")).as("__nq"))
    cum.crossJoin(broadcast(totals)) // 1-row totals attach
      .select(col(scoreCol).as("threshold"), col("tp"), col("fp"),
        (col("__np") - col("tp")).as("fn"),
        (col("__nq") - col("fp")).as("tn"),
        expr("(1000000 * tp) div (tp + fp)").as("prec_micro"),
        when(col("__np") > 0, expr("(1000000 * tp) div __np"))
          .as("rec_micro"),
        when(col("__nq") > 0, expr("(1000000 * fp) div __nq"))
          .as("fpr_micro"))
  }

  /** Confusion counts + precision/recall/F1 at a score threshold —
    * ONE fused aggregate over one scan, every rate an exact micros
    * rational: F1 = 2PR/(P+R) reduces to (2·10⁶·tp) div
    * (2tp + fp + fn), so even the harmonic mean needs no float.
    * Undefined rates (empty denominator) are null, not 0 — a
    * threshold above every score has no precision, not a bad one. */
  def confusionAt(df: DataFrame, scoreCol: String, labelCol: String,
      threshold: Long): DataFrame = {
    val pred = col(scoreCol) >= threshold
    val lbl = col(labelCol)
    df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .agg(
        sum(when(pred && lbl, 1L).otherwise(0L)).as("tp"),
        sum(when(pred && !lbl, 1L).otherwise(0L)).as("fp"),
        sum(when(!pred && lbl, 1L).otherwise(0L)).as("fn"),
        sum(when(!pred && !lbl, 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          expr("(1000000 * tp) div (tp + fp)")).as("prec_micro"),
        when(col("tp") + col("fn") > 0,
          expr("(1000000 * tp) div (tp + fn)")).as("rec_micro"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          expr("(2000000 * tp) div (2 * tp + fp + fn)"))
          .as("f1_micro"))
  }

  /** CALIBRATION (reliability) table — "when the score says 0.8,
    * is it right 80% of the time": equal-frequency score bins on the
    * (score, id) composite total order (ntile fill rule, skew-safe —
    * the rank rides the two-pass prefix sum, domain-guarded), and
    * per bin the exact positive rate plus the bin's score envelope.
    * Output per bin: `(bin, n, n_pos, pos_rate_micro, score_lo,
    * score_hi)` — the reliability-diagram rows, all integer. */
  def calibrationTable(df: DataFrame, scoreCol: String, idCol: String,
      labelCol: String, bins: Int): DataFrame = {
    require(bins >= 2, "calibrationTable: bins must be >= 2")
    val base = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol), col(idCol), col(labelCol))
    requireCompositeDomain(base, "calibrationTable", idCol,
      Seq(scoreCol))
    val ord = base.withColumn("__ord",
      col(scoreCol) * lit(1000000000L) + col(idCol))
      .withColumn("__g", lit(0))
    EventAnalytics.rankFeaturesSkewSafe(ord, "__g", "__ord", bins)
      .groupBy(col("bucket").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"),
        min(col(scoreCol)).as("score_lo"),
        max(col(scoreCol)).as("score_hi"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("(1000000 * n_pos) div n").as("pos_rate_micro"),
        col("score_lo"), col("score_hi"))
  }

  /** ISOTONIC calibration over the score-bin frame (r15) — the
    * monotone upgrade of [[calibrationTable]]: the isotonic
    * regression of the per-bin positive rate under the score order,
    * i.e. the calibration map a production scorer actually deploys
    * (raw bin rates wiggle; the monotone fit is the best
    * least-squares non-decreasing one). Computed EXACTLY by the
    * max-min closed form — iso(i) = max_{j≤i} min_{k≥i} mean(j..k)
    * — which equals the PAVA fit (spec-pinned against a rational
    * JVM PAVA), with rational means compared through the integer key
    *
    *   K(j,k) = (10¹⁸ · Σpos(j..k)) div Σn(j..k)
    *
    * — exact as a comparator while total rows ≤ 10⁹ (distinct
    * rationals with denominators ≤ 10⁹ differ by ≥ 10⁻¹⁸), and
    * iso_micro = K* div 10¹² = floor(10⁶·mean*) by the nested-floor
    * identity. Every span/triple enumeration runs over the ≤bins-row
    * aggregate (bins ≤ 64 ⇒ ≤ 64³ rows — the q270 bounded-|arms|²
    * class, PlanSpec-allowlisted); the DATA is touched once, by the
    * binning pass. Output per bin: (bin, n, n_pos, pos_rate_micro,
    * iso_micro), iso_micro non-decreasing by construction. */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
      idCol: String, labelCol: String, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 64,
      s"isotonicCalibration: bins must sit in [2, 64], got $bins")
    val cal = calibrationTable(df, scoreCol, idCol, labelCol, bins)
      .select(col("bin"), col("n"), col("n_pos"),
        col("pos_rate_micro"))
      .localCheckpoint() // tiny frame, many consumers below
    val b = cal.select(col("bin").as("__b"), col("n").as("__n"),
      col("n_pos").as("__p"))
    // span sums S(j,k), N(j,k) over j ≤ m ≤ k — a triple join over
    // the ≤bins-row frame
    // broadcast hints force the ≤bins-row theta joins to plan as
    // allowlisted BNL instead of CartesianProduct (checkpointed
    // frames carry no size stats)
    val spans = b.select(col("__b").as("__j"))
      .join(broadcast(b.select(col("__b").as("__k"))),
        col("__j") <= col("__k"))
      .join(broadcast(b.select(col("__b").as("__m"), col("__n"),
          col("__p"))),
        col("__m") >= col("__j") && col("__m") <= col("__k"))
      .groupBy(col("__j"), col("__k"))
      .agg(sum(col("__n")).as("__sn"), sum(col("__p")).as("__sp"))
      .withColumn("__key", expr(
        "CAST((CAST(1000000000000000000 AS DECIMAL(38,0)) * __sp) " +
          "div __sn AS BIGINT)"))
    // iso(i) = max_{j≤i} min_{k≥i} K(j,k)
    val iso = cal.select(col("bin"))
      .join(broadcast(spans),
        col("__j") <= col("bin") && col("__k") >= col("bin"))
      .groupBy(col("bin"), col("__j"))
      .agg(min(col("__key")).as("__mn"))
      .groupBy(col("bin"))
      .agg(max(col("__mn")).as("__iso"))
      .select(col("bin").as("__b2"),
        expr("__iso div 1000000000000").as("iso_micro"))
    cal.join(iso, col("bin") === col("__b2")).drop("__b2")
      .select(col("bin"), col("n"), col("n_pos"),
        col("pos_rate_micro"), col("iso_micro"))
  }

  /** 10⁶-scaled rank discounts 1/log₂(i+1) for NDCG positions
    * 1..10 — precomputed literals (the Benford-constant move: a log
    * cannot hash cross-engine, a published integer table can), so
    * DCG over integer relevance grades is exact integer arithmetic
    * in both engines. */
  private[graft] val ndcgDiscountMicro: Seq[Long] = Seq(
    1000000L, 630929L, 500000L, 430676L, 386852L,
    356207L, 333333L, 315464L, 301029L, 289064L)

  /** RANKING-evaluation metrics — the retrieval side of the ML-eval
    * wing (AUC/confusion judge a SCORE on labeled rows; these judge a
    * RANKED LIST against graded relevance): per query, hits@k,
    * reciprocal rank, precision/recall@k, and NDCG@k, every metric an
    * exact integer micro.
    *
    *   - `ranked`: (query, doc, rank), rank 1-based, ≤ one row per
    *     (query, doc); rows with rank > k are ignored.
    *   - `rels`: (query, doc, rel) graded relevance, rel ≥ 0 integer
    *     grades (missing pair ⇒ rel 0). NDCG's discount table is the
    *     published [[ndcgDiscountMicro]] (k ≤ 10), so
    *     dcg_micro = Σ rel_i·d_i is exact; idcg ranks the query's own
    *     grades descending (doc id tiebreak, though ties in grade
    *     don't change the sum). ndcg_micro = (10⁶·dcg) div idcg.
    *   - rr_micro = 10⁶ div (first relevant rank), 0 when no
    *     relevant doc made the list; p_at_k_micro = (10⁶·hits) div k;
    *     recall_at_k_micro = (10⁶·hits) div n_rel.
    *
    * Scale shape: one (query, doc) equi-join of the rank≤k slice
    * against the judgments, one keyed aggregate per side, the ideal
    * ranking a per-QUERY window over ≤|judged docs| rows — everything
    * keyed on the query, nothing pairwise. Queries with no positive
    * judgments drop (every rate undefined), as do queries with no
    * ranked rows (nothing to evaluate). */
  def rankingEval(ranked: DataFrame, rels: DataFrame,
      queryCol: String, docCol: String, rankCol: String,
      relCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= ndcgDiscountMicro.size,
      s"rankingEval: k must sit in [1, ${ndcgDiscountMicro.size}]")
    val disc = (r: Column) => ndcgDiscountMicro.zipWithIndex
      .foldLeft(lit(0L)) { case (acc, (d, i)) =>
        when(r === (i + 1), lit(d)).otherwise(acc) }
    val top = ranked.filter(col(rankCol) <= k)
      .select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(rankCol).as("__r"))
    val judged = rels
      .filter(col(relCol).isNotNull && col(relCol) > 0)
      .select(col(queryCol).as("__q2"), col(docCol).as("__d2"),
        col(relCol).cast("long").as("__rel"))
    // observed side: rank slice + its judgments
    val obs = top.join(judged,
        col("__q") === col("__q2") && col("__d") === col("__d2"),
        "left")
      .withColumn("__g", coalesce(col("__rel"), lit(0L)))
      .groupBy(col("__q"))
      .agg(
        sum(when(col("__g") > 0, 1L).otherwise(0L)).as("hits_at_k"),
        min(when(col("__g") > 0, col("__r"))).as("__first"),
        sum(col("__g") * disc(col("__r"))).as("dcg_micro"))
    // ideal side: the query's own grades, best-first
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__q2"))
      .orderBy(col("__rel").desc, col("__d2").asc)
    val ideal = judged
      .withColumn("__ir", row_number().over(w))
      .filter(col("__ir") <= k)
      .groupBy(col("__q2"))
      .agg(sum(col("__rel") * disc(col("__ir"))).as("idcg_micro"))
    val nrel = judged.groupBy(col("__q2").as("__q3"))
      .agg(count(lit(1)).as("n_rel"))
    obs.join(ideal, col("__q") === col("__q2")).drop("__q2")
      .join(nrel, col("__q") === col("__q3")).drop("__q3")
      .select(col("__q").as(queryCol), col("n_rel"),
        col("hits_at_k"),
        when(col("__first").isNotNull, expr("1000000 div __first"))
          .otherwise(lit(0L)).cast("long").as("rr_micro"),
        expr(s"(1000000 * hits_at_k) div $k").as("p_at_k_micro"),
        expr("(1000000 * hits_at_k) div n_rel")
          .as("recall_at_k_micro"),
        col("dcg_micro"), col("idcg_micro"),
        expr("(1000000 * dcg_micro) div idcg_micro")
          .as("ndcg_micro"))
  }

  /** WINSORIZATION at exact per-group percentiles — the robust
    * clipping a feature pipeline applies before moments are trusted
    * (cap the p99 tail instead of deleting it, floor at p1): group
    * bounds come from the skew-safe discrete-percentile op on the
    * (value, id) composite order (domain-guarded), broadcast back
    * (≤\|groups\|·2 rows), and every row clamps to [lo, hi] —
    * pure integer end to end. Output: every input row with its
    * group bounds and the clamped value. */
  def winsorize(df: DataFrame, groupCol: String, idCol: String,
      valueCentiCol: String, loPMicro: Long, hiPMicro: Long): DataFrame = {
    require(loPMicro < hiPMicro,
      "winsorize: loPMicro must be < hiPMicro")
    val base = df.filter(col(valueCentiCol).isNotNull)
      .select(col(groupCol), col(idCol), col(valueCentiCol))
    requireCompositeDomain(base, "winsorize", idCol,
      Seq(valueCentiCol))
    val ord = base.withColumn("__ord",
      col(valueCentiCol) * lit(1000000000L) + col(idCol))
    val bounds = EventAnalytics.groupPercentilesSkewSafe(
        ord, groupCol, "__ord", valueCentiCol,
        Seq(loPMicro, hiPMicro))
      .groupBy(col(groupCol))
      .agg(min(when(col("p_micro") === loPMicro, col(valueCentiCol)))
          .as("lo"),
        min(when(col("p_micro") === hiPMicro, col(valueCentiCol)))
          .as("hi"))
      .withColumnRenamed(groupCol, "__bg")
    base.join(broadcast(bounds), col(groupCol) === col("__bg"))
      .select(col(groupCol), col(idCol), col(valueCentiCol),
        col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col(valueCentiCol)))
          .as("v_wins"))
  }

  /** QUANTILE NORMALIZATION — map a probe sample onto a reference
    * distribution (batch-effect correction / feature alignment: "make
    * this source's score distribution look like the blessed one"):
    * each probe row at rank r of n_b is replaced by the reference
    * value at rank ceil(r·n_a / n_b) = (r·n_a + n_b − 1) div n_b —
    * the exact discrete transport plan, all integer (the q203/q204
    * composite-rank discipline, domain-guarded). Both ranks ride the
    * skew-safe rank op; the probe→reference pick is a data-sized
    * EQUI join on the computed rank. Output per probe row:
    * `(id, v, rank_b, v_norm)`. */
  def quantileNormalize(df: DataFrame, sampleCol: String, ref: String,
      probe: String, idCol: String, valueCentiCol: String): DataFrame = {
    val base = df
      .filter(col(sampleCol) === ref || col(sampleCol) === probe)
      .filter(col(valueCentiCol).isNotNull)
      .select(col(sampleCol), col(idCol), col(valueCentiCol))
    requireCompositeDomain(base, "quantileNormalize", idCol,
      Seq(valueCentiCol))
    val ord = base.withColumn("__ord",
      col(valueCentiCol) * lit(1000000000L) + col(idCol))
    def ranked(s: String) = EventAnalytics.rankFeaturesSkewSafe(
      ord.filter(col(sampleCol) === s).withColumn("__g", lit(0)),
      "__g", "__ord", 1)
    val ra = ranked(ref)
      .select(col("rank").as("__ra"), col(valueCentiCol).as("v_norm"),
        col("n").as("__na"))
    val rb = ranked(probe)
      .select(col(idCol), col(valueCentiCol), col("rank").as("rank_b"),
        col("n").as("__nb"))
    // n_a arrives as the allowlisted 1-row broadcast so the pick
    // stays a data-sized EQUI join on the computed target rank
    val naRow = ra.agg(max(col("__na")).as("__na2"))
    rb.crossJoin(broadcast(naRow))
      .withColumn("__rt",
        expr("(rank_b * __na2 + __nb - 1) div __nb"))
      .join(ra.drop("__na"), col("__ra") === col("__rt"))
      .select(col(idCol), col(valueCentiCol), col("rank_b"),
        col("v_norm"))
  }

  /** Two-proportion A/B test — the experimentation read-out, exact:
    * for every arm pair, conversion counts/rates and the pooled
    * two-proportion z² statistic as a PURE RATIONAL of the four
    * integers (z² ~ χ²(1); 95% ⇔ z² > 3.841459):
    *
    *   z² = (x₁n₂ − x₂n₁)²·n div (n₁·n₂·x·(n−x)),  x = x₁+x₂, n = n₁+n₂
    *
    * — algebraically identical to (p₁−p₂)²/(p̂(1−p̂)(1/n₁+1/n₂)) but
    * with no division until the final micros floor, so it gates
    * hash-exactly where the usual sqrt-z cannot (the χ²-numerator
    * discipline). Degenerate pools (x = 0 or x = n: zero variance)
    * emit null z². One count aggregate over one scan; the arm-pair
    * join is over the ≤|arms|-row stats frame (|arms|² bounded —
    * arms are an experiment's treatment cells, not data). */
  def abTest(df: DataFrame, armCol: String, flagCol: String)
      : DataFrame = {
    val d38 = "decimal(38,0)"
    val stats = df.filter(col(armCol).isNotNull)
      .groupBy(col(armCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(flagCol), 1L).otherwise(0L)).as("x"))
    val a = stats.select(col(armCol).as("arm_a"), col("n").as("n_a"),
      col("x").as("x_a"))
    val b = stats.select(col(armCol).as("arm_b"), col("n").as("n_b"),
      col("x").as("x_b"))
    a.join(b, col("arm_a") < col("arm_b"))
      .select(col("arm_a"), col("arm_b"), col("n_a"), col("x_a"),
        col("n_b"), col("x_b"),
        expr("(1000000 * x_a) div n_a").as("cr_a_micro"),
        expr("(1000000 * x_b) div n_b").as("cr_b_micro"),
        when(col("x_a") + col("x_b") === 0 ||
            col("x_a") + col("x_b") === col("n_a") + col("n_b"),
            lit(null).cast("long"))
          .otherwise(expr(
            s"""CAST((CAST(1000000 AS $d38) *
               |  (CAST(x_a AS $d38) * n_b - CAST(x_b AS $d38) * n_a) *
               |  (CAST(x_a AS $d38) * n_b - CAST(x_b AS $d38) * n_a) *
               |  (n_a + n_b)) div
               |  (CAST(n_a AS $d38) * n_b * (x_a + x_b) *
               |   (CAST(n_a AS $d38) + n_b - x_a - x_b))
               |AS BIGINT)""".stripMargin.replace('\n', ' ')))
          .as("z2_micro"))
  }

  /** QQ comparison table — the drill-down a drift investigation
    * reads AFTER a KS/U/W₁ gate flags: the same percentile set
    * evaluated in both samples side by side, so the analyst sees
    * WHERE in the distribution the mass moved (a location shift
    * moves every quantile; a tail event moves only p99). One row per
    * percentile: `(p_micro, n_a, q_a, n_b, q_b, diff)` — exact
    * discrete percentiles of the (value, id) composite total order
    * (the q203/q204 rank discipline, domain-guarded), both sides'
    * rank picks riding the skew-safe percentile op, joined on the
    * ≤|ps|-row axis. */
  def qqCompare(df: DataFrame, sampleCol: String, a: String,
      b: String, idCol: String, valueCentiCol: String,
      pMicros: Seq[Long]): DataFrame = {
    val base = df
      .filter(col(sampleCol) === a || col(sampleCol) === b)
      .filter(col(valueCentiCol).isNotNull)
      .select(col(sampleCol), col(idCol), col(valueCentiCol))
    requireCompositeDomain(base, "qqCompare", idCol,
      Seq(valueCentiCol))
    val ord = base.withColumn("__ord",
      col(valueCentiCol) * lit(1000000000L) + col(idCol))
    def side(s: String, nOut: String, qOut: String) =
      EventAnalytics.groupPercentilesSkewSafe(
          ord.filter(col(sampleCol) === s).withColumn("__g", lit(0)),
          "__g", "__ord", valueCentiCol, pMicros)
        .select(col("p_micro"), col("n").as(nOut),
          col(valueCentiCol).as(qOut))
    side(a, "n_a", "q_a")
      .join(side(b, "n_b", "q_b"), Seq("p_micro"))
      .select(col("p_micro"), col("n_a"), col("q_a"), col("n_b"),
        col("q_b"), (col("q_a") - col("q_b")).as("diff"))
  }

  /** Benford first-digit profile — the fraud/synthetic-data smell
    * test (Benford 1938; Nigrini's audit use): natural multi-scale
    * magnitudes put digit d first with probability log₁₀(1 + 1/d),
    * and fabricated or truncated data visibly doesn't. One row per
    * digit 1..9 (zero-filled): observed count, observed share in
    * micros, the Benford expectation in micros (the logs are
    * CONSTANTS, precomputed as floor(10⁶·log₁₀(1+1/d)) — no runtime
    * log, so the whole profile is integer-exact), and the absolute
    * deviation. The first digit comes from the SIGN-STRIPPED decimal
    * string of the integral value (no abs() — abs(Long.MinValue)
    * wraps; string-stripping doesn't), zeros and nulls excluded.
    * One count aggregate over one scan; the 1-row total attaches to
    * the 9-row digit frame by broadcast. */
  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val benford = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
      66946L, 57991L, 51152L, 45757L)
    val spark = df.sparkSession
    val digitF = spark.range(1, 10)
      .select(col("id").cast("int").as("digit"),
        expr("CASE id " + benford.zipWithIndex.map { case (b, i) =>
          s"WHEN ${i + 1} THEN ${b}L" }.mkString(" ") +
          " END").as("benford_micro"))
    val counts = df
      .filter(col(valueCol).isNotNull && col(valueCol) =!= 0)
      .select(substring(regexp_replace(
          col(valueCol).cast("string"), "^-", ""), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_digit"))
    val total = counts.agg(sum(col("n_digit")).as("__n"))
    digitF
      .join(counts, Seq("digit"), "left")
      .withColumn("n_digit", coalesce(col("n_digit"), lit(0L)))
      .crossJoin(broadcast(total)) // 1-row total attach
      .withColumn("obs_micro",
        expr("(1000000 * n_digit) div __n"))
      .select(col("digit"), col("n_digit"), col("obs_micro"),
        col("benford_micro"),
        abs(col("obs_micro") - col("benford_micro")).as("dev_micro"))
  }

  /** KEY-SKEW profile of a column's mass distribution — the
    * shuffle/partition-skew diagnosis: before keying a 100 TB
    * join/aggregate on a column, this one row says whether its mass
    * is salting territory. All statistics exact and integral:
    *
    *   - `top_share_micro`  = 10⁶·max(c) div n  — the hottest key's
    *     mass share (the straggler-task bound under hash keying);
    *   - `max_mean_micro`   = 10⁶·max(c)·K div n — hot-key count vs
    *     the mean (10⁶ = perfectly uniform);
    *   - `simpson_micro`    = 10⁶·Σc² div n² — collision probability
    *     (two random rows share a key; also the self-join/shuffle
    *     amplification factor ≈ Simpson index, the integer stand-in
    *     for the log-needing Shannon entropy);
    *   - `gini_micro`       = 10⁶·(2Σr·c − (K+1)·n) div (K·n) — the
    *     Lorenz-curve Gini coefficient of key mass, rank-weighted
    *     with counts ascending (0 = uniform, → 10⁶·(K−1)/K = one key
    *     carries everything). Tie order does not matter: a tied
    *     block's Σranks·c is permutation-invariant, which is what
    *     makes the statistic gate-able.
    *
    * Plan shape: one keyed count (map-side combined) → collapse to
    * the DISTINCT-COUNT SPECTRUM `(c, m_c)` (usually tiny — counts
    * cluster; adversarially ≤ |keys| rows but never the data) → the
    * drift family's skew-safe running sum over the spectrum for the
    * rank prefixes → one final aggregate. The per-block rank mass
    * uses the closed form 2·Σranks·c = c·m·(2·R_prev + m + 1), so
    * every intermediate stays integral in DECIMAL(38,0) with no
    * mid-sum division. Nulls excluded; empty input → empty output. */
  def skewProfile(df: DataFrame, keyCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
    val freq = counts.groupBy(col("__c"))
      .agg(count(lit(1)).as("__m"))
    val cum = EventAnalytics.runningAggsSkewSafe(
      freq.withColumn("__g", lit(0)), "__g", "__c",
      Seq(("__m", "sum", "__cumm")))
    cum
      .withColumn("__rprev", col("__cumm") - col("__m"))
      .agg(
        sum(expr(s"CAST(__c AS $d38) * __m")).as("__n"),
        sum(col("__m")).as("__k"),
        max(col("__c")).as("__maxc"),
        sum(expr(s"CAST(__c AS $d38) * __c * __m")).as("__sq"),
        // 2·Σranks·c per tied block — integral, no division
        sum(expr(s"CAST(__c AS $d38) * __m * " +
          s"(CAST(2 AS $d38) * __rprev + __m + 1)")).as("__rc2"))
      .filter(col("__n").isNotNull)
      .select(
        expr("CAST(__n AS BIGINT)").as("n"),
        col("__k").as("n_keys"),
        col("__maxc").as("max_n"),
        expr(s"CAST((CAST(1000000 AS $d38) * __maxc) div __n " +
          "AS BIGINT)").as("top_share_micro"),
        expr(s"CAST((CAST(1000000 AS $d38) * __maxc * __k) div __n " +
          "AS BIGINT)").as("max_mean_micro"),
        expr(s"CAST((CAST(1000000 AS $d38) * __sq) div (__n * __n) " +
          "AS BIGINT)").as("simpson_micro"),
        expr(s"CAST((CAST(1000000 AS $d38) * " +
          "(__rc2 - (CAST(__k AS DECIMAL(38,0)) + 1) * __n)) div " +
          s"(CAST(__k AS $d38) * __n) AS BIGINT)").as("gini_micro"))
  }

  /** k-ANONYMITY profile (r16; Sweeney 2002, "k-anonymity: a model
    * for protecting privacy" — public literature): the equivalence-
    * class-size histogram over the quasi-identifier columns — one
    * row per observed class size with the class count, the row mass,
    * and the violation flag (size < k means those rows are
    * re-identifiable within a group smaller than k). The governance
    * gate for a training corpus carrying user-derived columns: the
    * violating mass must be 0 (or get suppressed/generalized)
    * before release.
    *
    * Rows with a NULL in any quasi column form their own classes per
    * SQL grouping (null == null in GROUP BY) — deliberate: a null
    * zip code is itself a quasi-identifying value.
    *
    * Scale shape: one map-side-combinable groupBy on the quasi
    * tuple, then a histogram rollup of the ≤|classes| count frame —
    * the skewProfile ladder; output ≤|distinct sizes| rows. */
  def kAnonymityProfile(df: DataFrame, quasiCols: Seq[String],
      k: Long): DataFrame = {
    require(quasiCols.nonEmpty,
      "kAnonymityProfile: need at least one quasi-identifier column")
    require(k > 1, "kAnonymityProfile: k must be > 1")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("class_size"))
      .agg(count(lit(1)).as("n_classes"))
      .select(col("class_size"), col("n_classes"),
        (col("class_size") * col("n_classes")).as("n_rows"),
        (col("class_size") < k).as("violates_k"))
  }

  /** EXACT Average Precision at k (r16) — the ranking-eval member
    * [[rankingEval]] doesn't carry (hits/MRR/P/R/NDCG do): per
    * group, AP@k = (Σ_{i ≤ k, rel} P@i) / min(R, k) with binary
    * relevance (rel > 0), computed as ONE integer micro through the
    * LCM(1..k) common denominator — P@i = h_i/i and i | LCM, so the
    * numerator Σ h_i·(LCM/i) is exact integer arithmetic and
    * ap_micro = (10⁶·num) div (LCM·min(R, k)). No floats anywhere
    * (the NDCG-discount-table spirit without even a published
    * table). k ≤ 20 keeps LCM(1..20) = 232 792 560 in range with
    * 10⁶ headroom. Groups with no relevant documents drop (AP is
    * undefined there — emitting 0 would punish the RANKER for the
    * judgments' gap); groups whose relevant docs all miss the top-k
    * report 0. Output: (group, n_rel, ap_micro).
    *
    * PRECONDITION (the [[graft.ops.TextAnalysis.rougeN]] idCol rule,
    * ADVICE r16): `rels` must hold at most ONE row per (group, id) —
    * a duplicate judgment fans out the top-k left join AND inflates
    * n_rel, silently skewing ap_micro. Deduplicate judgments
    * upstream (`rels.dropDuplicates(groupCol, idCol)`) when the
    * source can repeat.
    *
    * Scale shape: the running-hit window is partitioned per group
    * over ≤ k rows (the top-k filter runs first); everything else is
    * keyed combinable aggregation + one ≤|groups| join. */
  def averagePrecisionAtK(ranked: DataFrame, rels: DataFrame,
      groupCol: String, idCol: String, rankCol: String,
      relCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 20,
      "averagePrecisionAtK: k in [1, 20] (LCM bound)")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = (1L to k.toLong).foldLeft(1L)((a, b) => a / gcd(a, b) * b)
    val relevant = rels.filter(col(relCol) > 0)
      .select(col(groupCol), col(idCol), lit(1L).as("__rv"))
    val top = ranked.filter(col(rankCol) <= k)
      .join(relevant, Seq(groupCol, idCol), "left")
      .select(col(groupCol), col(rankCol).cast("long").as("__i"),
        coalesce(col("__rv"), lit(0L)).as("__rv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__i")) // ≤ k rows/group
    val num = top.withColumn("__h", sum(col("__rv")).over(w))
      .filter(col("__rv") === 1L)
      .groupBy(col(groupCol))
      .agg(sum(col("__h") * expr(s"$lcm div __i")).as("__num"))
    val nRel = relevant.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rel"))
    nRel.join(num, Seq(groupCol), "left")
      .select(col(groupCol), col("n_rel"),
        coalesce(
          expr(s"(1000000 * __num) div ($lcm * least(n_rel, $k))"),
          lit(0L)).as("ap_micro"))
  }

  /** k-anonymity SUPPRESSION — the apply step of
    * [[kAnonymityProfile]] (the release filter): keep exactly the
    * rows whose quasi-identifier equivalence class has at least k
    * members; everything smaller is suppressed. Columns pass through
    * unchanged. Same null semantics as the profile (null quasi
    * tuples are classes too — suppressed like any other when small).
    *
    * Scale shape: one map-side-combinable class count + one keyed
    * semi-join of the row side against the ≥k classes — no window
    * over the raw rows (a `count over partitionBy(quasi)` would land
    * a hot class in one un-splittable task; the join is
    * AQE-splittable, the q303 df-pass argument). */
  def kAnonymitySuppress(df: DataFrame, quasiCols: Seq[String],
      k: Long): DataFrame = {
    require(quasiCols.nonEmpty,
      "kAnonymitySuppress: need at least one quasi-identifier column")
    require(k > 1, "kAnonymitySuppress: k must be > 1")
    val q = quasiCols.map(col)
    val safe = df.groupBy(q: _*)
      .agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") >= k)
      .select(q: _*)
    // null-safe key match: a null quasi value must join its own
    // class (plain equi-join would drop every null-keyed row)
    df.join(safe, quasiCols.map(c => df(c) <=> safe(c))
      .reduce(_ && _), "left_semi")
  }

  /** l-DIVERSITY profile (r16; Machanavajjhala et al. 2007,
    * "l-diversity: privacy beyond k-anonymity" — public literature):
    * k-anonymity's necessary complement — a class of 1000 rows that
    * all share one sensitive value still discloses it. Per
    * equivalence class over the quasi columns, the number of
    * DISTINCT sensitive values, rolled into the diversity histogram:
    * one row per observed distinct-count with the class count, row
    * mass, and the violation flag (< l distinct sensitive values).
    * NULL sensitive values are excluded from the distinct count
    * (unknown is not a disclosure) but their rows stay in the mass.
    *
    * Scale shape: (quasi, sensitive) pre-count → per-class distinct
    * + mass in one second pass → histogram; all three aggregations
    * map-side combinable, no countDistinct expand. */
  def lDiversityProfile(df: DataFrame, quasiCols: Seq[String],
      sensCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty,
      "lDiversityProfile: need at least one quasi-identifier column")
    require(l > 1, "lDiversityProfile: l must be > 1")
    val q = quasiCols.map(col)
    df.groupBy(q :+ col(sensCol): _*)
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(q: _*)
      .agg(count(when(col(sensCol).isNotNull, 1)).as("__d"),
        sum(col("__cnt")).as("__rows"))
      .groupBy(col("__d").as("n_sensitive"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("__rows")).as("n_rows"))
      .select(col("n_sensitive"), col("n_classes"), col("n_rows"),
        (col("n_sensitive") < l).as("violates_l"))
  }

  /** t-CLOSENESS profile (r17, VERDICT r16 missing #6; Li, Li &
    * Venkatasubramanian 2007, "t-closeness: privacy beyond
    * k-anonymity and l-diversity" — public literature): the third
    * member of the governance triad. l-diversity counts distinct
    * sensitive values; t-closeness bounds how far each equivalence
    * class's sensitive DISTRIBUTION sits from the corpus
    * distribution. For a categorical sensitive attribute the
    * categorical EMD is the total-variation distance, exact over the
    * common denominator n_E·N:
    *
    *   tvd_num(E) = Σ_v |cnt_E(v)·N − cnt(v)·n_E|
    *   t_micro(E) = (10⁶ · tvd_num) div (2 · n_E · N)
    *
    * — all integer (the binned-TVD q221 discipline); `violates_t` is
    * the cross-multiplied comparison 10⁶·tvd_num > tMicro·2·n_E·N,
    * division-free. Null quasi tuples are classes (the k-anonymity
    * rule); a null sensitive value is a category of its own (both
    * engines group nulls identically — unlike l-diversity's distinct
    * count, MASS must be conserved or the distances don't sum).
    *
    * Scale shape: one (quasi, v) map-side-combinable count, one
    * ≤|values| corpus count (broadcast), one classes×values keyed
    * grid agg — |values| is categorical-bounded, nothing all-pairs,
    * no window. Products ride DECIMAL(38,0): cnt·N ≤ N² ⇒ t_micro
    * and violates_t exact to N ≈ 10¹⁹ rows (the reported raw
    * `tvd_num` column is BIGINT for the gate — itself ≤ 2·n_E·N, so
    * exact to N ≈ 3·10⁹; past that consume t_micro, which never
    * leaves [0, 10⁶]). Output one row per class: (quasiCols…,
    * n_rows, tvd_num, t_micro, violates_t). */
  def tClosenessProfile(df: DataFrame, quasiCols: Seq[String],
      sensCol: String, tMicro: Long): DataFrame = {
    require(quasiCols.nonEmpty,
      "tClosenessProfile: need at least one quasi-identifier column")
    require(tMicro >= 0 && tMicro <= 1000000,
      "tClosenessProfile: tMicro in [0, 1e6]")
    val d38 = "decimal(38,0)"
    val q = quasiCols.map(col)
    val cv = df.groupBy(q :+ col(sensCol).as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val corpus = df.groupBy(col(sensCol).as("__v"))
      .agg(count(lit(1)).as("__cv"))
    val nE = cv.groupBy(q: _*).agg(sum(col("__c")).as("__n"))
    val nTot = df.agg(count(lit(1)).as("__ntot"))
    // classes × corpus values: a value ABSENT from a class still
    // contributes |0·N − cnt(v)·n_E| — the left join zero-fills.
    // NULL-SAFE keys throughout: a null quasi tuple is a class and a
    // null sensitive value is a category (a plain equi-join would
    // zero BOTH sides of the null category and undercount tvd —
    // TextEvalSpec pins the hand value)
    val cvr = cv.select((quasiCols.map(c => col(c).as(s"__cq_$c")) :+
      col("__v").as("__cvv") :+ col("__c")): _*)
    nE.crossJoin(broadcast(corpus)).crossJoin(broadcast(nTot))
      .join(cvr,
        (quasiCols.map(c => col(c) <=> col(s"__cq_$c")) :+
          (col("__v") <=> col("__cvv"))).reduce(_ && _), "left")
      .groupBy((q :+ col("__n").as("n_rows")): _*)
      .agg(sum(abs(coalesce(col("__c"), lit(0L)).cast(d38) * col("__ntot")
          - col("__cv").cast(d38) * col("__n")))
        .cast(d38).as("tvd_num"),
        max(col("__ntot")).as("__ntotm"))
      .select((q :+ col("n_rows") :+
        col("tvd_num").cast("long").as("tvd_num") :+
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * tvd_num) div " +
          "(CAST(2 AS DECIMAL(38,0)) * n_rows * __ntotm) AS BIGINT)")
          .as("t_micro") :+
        (lit(1000000).cast(d38) * col("tvd_num") >
          lit(tMicro).cast(d38) * 2 * col("n_rows") * col("__ntotm"))
          .as("violates_t")): _*)
  }
}
