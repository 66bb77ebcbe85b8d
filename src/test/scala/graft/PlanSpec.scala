package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import graft.ops.IntervalUnionDays

/** Scale-shape assertions: the plans we ship are the plans we want —
  * filters reach the parquet scan, small dims broadcast, co-partitioned
  * joins add no extra exchange. Plus Aggregator correctness under
  * forced partial aggregation. */
class PlanSpec extends SparkSuite {
  import spark.implicits._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  /** The contract ORDER BY as the dump-sort rule plans it: a local sort
    * directly over a gather into one partition. */
  private val dumpSort =
    "(?m)^[\\s+-]*Sort \\[.*\\], false, 0\\n\\s*\\+- Exchange SinglePartition, REPARTITION_BY_NUM, ".r

  test("q01: filter + projection are pushed to the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // pruned read schema: no orderkey/partkey/suppkey columns read
    assert(!p.contains("l_orderkey"))
  }

  test("q04: FK check is a broadcast left-semi join") {
    val p = plan("q04_semijoin_fk")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
  }

  test("q150/q125: iterative-graph score joins broadcast, never " +
      "sort-merge (r20 score-side hint)") {
    // the score frames are aggregates over checkpoint-fed lineage
    // whose size estimate is defaultSizeInBytes — without the
    // explicit hint the planner shuffled+sorted BOTH sides each
    // round (44 SMJs in q150's r19 plan)
    for (q <- Seq("q150_hits", "q125_pagerank")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"),
        s"$q plans a SortMergeJoin — the score-side broadcast hint " +
          "was lost")
      assert(p.contains("BroadcastHashJoin"), s"$q: no broadcast join")
    }
  }

  test("q30: ANN query side is broadcast (no corpus shuffle)") {
    val p = plan("q30_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("co-partitioned join adds no exchange beyond the repartition") {
    // disable broadcast so the join must rely on co-partitioning
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.read.parquet(s"$sf0001/orders.parquet")
        .repartition(4, $"o_orderkey")
      val b = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .repartition(4, $"l_orderkey")
      val j = a.join(b, $"o_orderkey" === $"l_orderkey")
      val shuffles = "Exchange hashpartitioning".r.findAllIn(
        j.queryExecution.executedPlan.toString).length
      assert(shuffles == 2,
        s"expected only the 2 repartition shuffles, got $shuffles")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("bucketed tables: co-located join plans with ZERO shuffles") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
      spark.read.parquet(s"$sf0001/orders.parquet")
        .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_b_orders")
      spark.read.parquet(s"$sf0001/lineitem.parquet")
        .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_b_lineitem")
      val j = spark.table("graft_b_orders")
        .join(spark.table("graft_b_lineitem"),
          $"o_orderkey" === $"l_orderkey")
      val plan = j.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles == 0, s"bucketed join should be shuffle-free:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
    }
  }

  test("partitioned parquet: a partition-key filter prunes at plan time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    spark.read.parquet(s"$sf0001/orders.parquet")
      .withColumn("o_year", year($"o_orderdate"))
      .write.partitionBy("o_year").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter($"o_year" === 1995)
      .select($"o_orderkey", $"o_totalprice")
    val p = q.queryExecution.executedPlan.toString
    // the year predicate must appear as a PartitionFilter on the scan,
    // not as a post-scan Filter over all partitions
    assert(p.contains("PartitionFilters: [isnotnull(o_year"),
      s"partition filter missing:\n$p")
    // and the scan must actually select a subset of the directories
    val selected = q.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(!selected.contains("o_year=1996") || q.count() > 0)
    assert(q.count() ==
      spark.read.parquet(s"$sf0001/orders.parquet")
        .filter(year($"o_orderdate") === 1995).count())
  }

  test("SCD2 merge over a bucketed live table shuffles only the staged side") {
    // the 100 TB shape claimed in Temporal.mergeScd2's doc: live
    // snapshot bucketed by id -> the full-outer merge join reuses the
    // bucketing; only the (much smaller) staged delta is exchanged
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS graft_live_bucketed")
      spark.read.parquet(s"$sf0001/orders.parquet")
        .selectExpr("CAST(o_orderkey AS STRING) AS id", "o_totalprice",
          "o_orderstatus")
        .write.bucketBy(4, "id").sortBy("id")
        .saveAsTable("graft_live_bucketed")
      val live = spark.table("graft_live_bucketed")
      val staged = spark.read.parquet(s"$sf0001/orders.parquet")
        .filter($"o_orderkey" % 100 === 0)
        .selectExpr("CAST(o_orderkey AS STRING) AS id",
          "o_totalprice * 2 AS o_totalprice", "o_orderstatus")
      val merged = graft.ops.Temporal.mergeScd2(live, staged, "id")
      val plan = merged.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles == 1, s"expected 1 exchange (staged side only):\n$plan")
      assert(merged.count() == live.count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_live_bucketed")
    }
  }

  test("plan sweep: no CartesianProduct anywhere; BNL only where intended") {
    // BroadcastNestedLoop is legitimate only where the broadcast side
    // is small by construction: the deliberately brute-force ANN
    // baselines (q85 embeds the brute-force arm), and the single-row
    // aggregate cross joins (q36 merges three scalar counters;
    // q53/q76 attach the corpus-stats scalar). q45 left this list in
    // r7: the IVF cell assignment is a compiled kernel scan now, so
    // nothing in its plan may nested-loop. q88 left it in r9 (VERDICT
    // r8 #1): the exhaustive-ADC baseline now delegates to the
    // single-cell indexed probe, so its full-codes scan runs as a
    // broadcast-HASH join — no production OR baseline entry point in
    // Similarity reaches a BNL anymore. q95/q99 joined in r10: the
    // temperature-quota Σw moved from the suite's only unpartitioned
    // window to a broadcast 1-ROW aggregate cross join (keyless →
    // plans as BNL; one row by construction).
    // q136 joined in r10: the histogram-quantile TOTAL is the same
    // 1-row aggregate cross (its cumsum is an equi suffix-explode, its
    // per-p winner a plain min — the only BNL left is the one-row
    // total attach).
    // q149/q150/q154 joined in r10 leg 3: all three attach 1-ROW
    // aggregates by keyless cross join (q149 the three scalar counts,
    // q150 the per-round max normalizer, q154 the total-row-count) —
    // one row by construction, the same quota-Σw discipline.
    val bnlAllowed = Set("q30_ann_bruteforce",
      "q36_merge_audit", "q53_tfidf", "q76_bm25", "q85_rrf_fusion",
      "q95_temperature_mix", "q99_unimax_mix", "q136_hist_quantiles",
      "q149_triangle_count", "q150_hits", "q154_heavy_hitters",
      // q166 attaches the 1-row null-safe-pair count by keyless cross
      // join (the null-safe JOIN itself hashes on <=> as an equi key)
      "q166_null_semantics",
      // q175 is the deliberately-exhaustive FILTERED brute-force
      // baseline (q30's broadcast-query pattern); q176 is its
      // cell-pruned scale path and must stay BNL-free
      "q175_ann_filtered",
      // q177's three 1-ROW best-merge frames attach by keyless cross
      // join (the quota-Σw discipline; LIMIT 1 by construction)
      "q177_bpe_train",
      // q213/q214 attach the (n1, n2) totals — an .agg() with NO
      // grouping, 1 row by construction — to the cumulative-count
      // frame before the final reduce
      "q213_ks_drift", "q214_mannwhitney", "q218_emd_drift",
      // q273 is q214's doubled-U tail verbatim (AUC = U/(n⁺n⁻)) —
      // the same no-grouping 1-row (n1, n2) totals attach; q277
      // attaches the same 1-row class totals to the ≤|scores|-row
      // spectrum sweep
      "q273_auc", "q277_threshold_sweep",
      // q220 attaches the same no-grouping 1-row (n1, n2) totals to
      // the per-category count frame; q222 is q213's tail over the
      // persisted-reference count frame — same 1-row attach; q224
      // attaches TWO 1-row frames (the sorted ≤k−1 boundary array and
      // the totals), both no-grouping aggregates
      "q220_tvd_drift", "q222_ks_drift_steady", "q224_binned_drift",
      // q227 is the same drift-tail 1-row totals attach; q229 is
      // q224's tail over the persisted boundary/count frames (the
      // same two 1-row attaches)
      "q227_cvm_drift", "q229_binned_drift_steady",
      // q230 unions the four drift tails, each with the same 1-row
      // totals attach over the shared prefix frame
      "q230_drift_report",
      // q238 is q230's tail over the persisted-reference merged count
      // frame — the same four 1-row (no-grouping .agg()) totals
      // attaches, nothing data-sized on either side
      "q238_drift_report_steady",
      // q247 attaches the 1-row grand total (a no-grouping .agg() of
      // the ≤|A|·|B|-row cell frame) to the cell rows; q249 repeats
      // that 1-row attach once per column pair
      "q247_contingency", "q249_association_map",
      // q252 attaches the 1-row kept-basket total (no-grouping
      // countDistinct aggregate) to the pair rows
      "q252_lift_table",
      // q255 crosses two 1-row aggregates (matches × union totals),
      // both no-grouping aggs of ≤k-row sketch frames
      "q255_kmv_jaccard",
      // q266 attaches the 1-row digit total to the 9-row digit frame
      "q266_benford",
      // q267's two percentile sides run pickGlobalRanks with a
      // CONSTANT group key (the two-sample axis is the filter, not
      // the key): FoldablePropagation folds the resolve join's key
      // equi-condition away, leaving the rank-range join over two
      // SKETCH-sized frames (|ps| targets × ≤slices count rows) —
      // the q224 constant-key class, never data-sized
      "q267_qq_compare",
      // q269 attaches the 1-row pair-mass total (no-grouping sum of
      // the pair-count frame) to the surviving collocation rows
      "q269_collocations",
      // q270's arm-pair theta join (arm_a < arm_b) runs over the
      // ≤|arms|-row stats aggregate — |arms|² is bounded by the
      // experiment's treatment-cell count, never the data
      "q270_ab_test",
      // q271 attaches the 1-row reference size (no-grouping max of
      // the constant n column) before the rank-equi pick, and its
      // two percentile sides are the q267 constant-key class
      "q271_quantile_normalize",
      // q275's rank pass runs rankFeaturesSkewSafe with a CONSTANT
      // group key: the per-key sizes frame is 1 ROW by construction
      // and FoldablePropagation folds its equi key away — the join
      // is a broadcast of that single row, never data × data
      "q275_calibration",
      // q287 attaches the 1-row corpus token total (no-grouping
      // count) to the ≤topK-row spectrum; q289 attaches the 1-row
      // max-id frame (no-grouping max) twice — to the ≤|vocab|-row
      // first-occurrence frame and the per-doc token counts
      "q287_term_spectrum", "q289_vocab_growth",
      // q293 attaches the 1-row corpus-prior frame (no-grouping agg)
      // to the ≤|categories|-row stats
      "q293_target_encode",
      // q297's span/triple theta joins run over the ≤bins-row (≤64)
      // calibration aggregate — |bins|³ ≤ 64³ rows by construction,
      // never data-sized (the q270 bounded-|arms|² class); its rank
      // pass is q275's constant-key class
      "q297_isotonic_calibration",
      // q328/q330's langid model densifies (lang × bucket): the
      // cross join is ≤|langs|-row stats × the B-row range — the
      // MODEL grid (k·B ≤ 5·1024 rows), built once per train, never
      // data-sized; q330 adds nothing (same model subtree)
      "q328_langid", "q330_langid_quality_filter",
      // q334's grid is ≤|classes|-row class stats × ≤|values|-row
      // corpus distribution (categorical-bounded) plus the 1-row
      // corpus-total attach — the q270/q293 bounded-grid class
      "q334_t_closeness")
    val offenders = SparkEntry.specs.flatMap { q =>
      val plan =
        try q.fn(spark, sf0001).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"PLAN-FAILED ${e.getMessage}" }
      val cart = plan.contains("CartesianProduct")
      val bnl = plan.contains("BroadcastNestedLoopJoin") && !bnlAllowed(q.name)
      val failed = plan.startsWith("PLAN-FAILED")
      if (cart || bnl || failed)
        Some(s"${q.name}: cart=$cart bnl=$bnl failed=$failed")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("q189 profile approx: the q140 Expand is GONE; sketch-sized shuffle") {
    // the exact profile's multi-COUNT(DISTINCT) plans through Expand
    // (rows × column-count before the shuffle, distinct keys on the
    // wire — VERDICT r10 wrong #1); the approx twin must plan with NO
    // Expand anywhere: one no-distinct aggregate for the exact stats
    // and a generator+partial-max for the registers
    val pExact = plan("q140_profile")
    val pApprox = plan("q189_profile_approx")
    assert(pExact.contains("Expand"),
      "q140 is supposed to be the Expand-based exact form")
    assert(!pApprox.contains("Expand"),
      s"profileApprox must not plan an Expand:\n$pApprox")
    // and the unpivot must be a generator inside the scan stage, with
    // partial aggregation collapsing it map-side
    assert(pApprox.contains("Generate"), pApprox)
  }

  test("q45 IVF: kernel cell assignment — no window exchange, no BNL") {
    // the corpus arm must be a single compiled scan: the only Window
    // in the whole plan is the final top-k rank on query_id; the old
    // crossJoin(cent) + row_number-on-neighbor_id form (k× row
    // amplification + a full corpus shuffle) must not come back
    val p = plan("q45_ann_ivf")
    val windows = "(?m)^\\s*[*+-]*\\s*Window ".r.findAllIn(p).length
    assert(windows == 1, s"expected exactly 1 Window (query_id top-k):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"IVF assignment must stay a kernel scan:\n$p")
    assert(p.contains("vec_top_cells_dist2"),
      s"expected the compiled top-cells kernel in the plan:\n$p")
  }

  test("q91 IVFADC: cell-pruned probe join — both kernels, no BNL, 1 window") {
    // the corpus arm is ONE compiled scan producing (cell, codes); the
    // probe side replaces q88's crossJoin — nothing may nested-loop,
    // and the only Window is the final top-k rank
    val p = plan("q91_ann_ivfadc")
    val windows = "(?m)^\\s*[*+-]*\\s*Window ".r.findAllIn(p).length
    assert(windows == 1, s"expected exactly 1 Window (query_id top-k):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"IVFADC must stay a keyed probe join:\n$p")
    assert(p.contains("vec_top_cells_dist2") && p.contains("pq_adc"),
      s"expected both compiled kernels in the plan:\n$p")
  }

  test("q107 C4 filter: pure scan — zero exchanges before the output sort") {
    // the whole clean is per-row expression work; the only shuffle
    // allowed is the contract ORDER BY's gather
    val p = plan("q107_c4_line_filter")
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the ORDER BY exchange:\n$p")
    assert(dumpSort.findFirstIn(p).isDefined,
      s"the single exchange must be the output sort's gather:\n$p")
  }

  test("q112 bloom increment: membership expression live, proven-new arm joins nothing") {
    // the exact arm must be the two-branch bloom shape: a Union whose
    // first branch filters on the bitmap expression (shiftleft bit
    // test) WITHOUT touching the keyset relation — only the
    // bloom-positive branch pays the anti-join
    val p = plan("q112_dedup_increment_steady_bloom")
    assert(p.contains("shiftleft"),
      s"bloom membership expression missing from the plan:\n$p")
    assert(p.contains("Union"),
      s"expected the proven-new/maybe two-branch union:\n$p")
    // both guard polarities must be live: the proven-new branch
    // filters on NOT forall(<membership>) and joins nothing, the
    // maybe branch filters on forall(<membership>) before its keyset
    // anti-join. (Anti-join COUNTS are not stable pins: the
    // exactSurvivors union is expanded per downstream consumer and
    // Catalyst pushes the id-keyed losers anti through it.)
    assert(p.contains("Filter NOT forall("),
      s"proven-new branch (NOT mightContain) missing:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("Filter forall(") && !l.contains("NOT forall(")),
      s"bloom-positive branch (mightContain guard) missing:\n$p")
  }

  test("q113 classifier: per-row scoring — zero exchanges before the output sort") {
    // the hashed dot product is one expression over the scan; the
    // weight vector is a plan literal, so there must be no weight-
    // table join and no shuffle besides the contract ORDER BY
    val p = plan("q113_quality_classifier")
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the ORDER BY exchange:\n$p")
    assert(dumpSort.findFirstIn(p).isDefined,
      s"the single exchange must be the output sort's gather:\n$p")
    assert(!p.contains("Join"), s"weights must not arrive via a join:\n$p")
  }

  test("q116 DSIR: stats arrive broadcast; selection is a threshold, not a global window") {
    // scoring stage (pre-checkpoint lineage): the ≤buckets-row
    // log-ratio frame must reach the scoring join as a broadcast, and
    // nothing in the whole pipeline may plan a window — a data-scale
    // single-partition row_number would be the 100 TB killer here
    val sp = graft.ops.TrainingPrep.dsirScores(
        spark.read.parquet(s"$sf0001/documents.parquet"),
        "doc_id", "text", $"lang" === "en", buckets = 1024)
      .queryExecution.executedPlan.toString
    assert(sp.contains("BroadcastHashJoin"),
      s"bucket stats must broadcast into the scoring join:\n$sp")
    assert(!sp.contains("Window") && !sp.contains("CartesianProduct"),
      s"scoring stage must be joins+aggs only:\n$sp")
    // gated query (post-checkpoint): rank-n selection must have been
    // folded into a threshold predicate over the pinned score frame
    val p = plan("q116_dsir_selection")
    assert(!p.contains("Window"),
      s"selection must be the broadcast-threshold form, no rank window:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"selection must scan the pinned score frame, not recompute:\n$p")
  }

  test("q118 DSIR indexed: probe reads the persisted model, never retrains") {
    // steady-state contract: the model arrives as ONE parquet scan
    // broadcast into the scoring join; exactly one explode (the batch
    // being scored) and no stats-aggregation legs — training cost must
    // not be payable per batch
    val p = plan("q118_dsir_indexed")
    val gens = "Generate explode".r.findAllIn(p).length
    assert(gens == 1, s"expected only the batch explode, got $gens:\n$p")
    assert(p.contains("graft_dsir_model"),
      s"model must come from the persisted parquet:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"probe must stay joins+aggs:\n$p")
  }

  test("q119 LM indexed: probe reads the persisted model, never recounts") {
    // both scoring legs must come off the persisted parquet model;
    // the only aggregation pair is the per-doc sum — training-side
    // count legs reappearing would mean the model is retrained per
    // batch
    val p = plan("q119_lm_perplexity_indexed")
    val gens = "Generate explode".r.findAllIn(p).length
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(gens == 1, s"expected only the batch explode, got $gens:\n$p")
    assert(aggs == 2, s"expected only the per-doc agg pair, got $aggs:\n$p")
    assert(p.contains("graft_lm_model"),
      s"model must come from the persisted parquet:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"probe must stay joins+aggs:\n$p")
  }

  test("q117 LM filter: trained counts broadcast; no window or nested loop") {
    // both count frames (the 'model') are ≤buckets rows and must
    // arrive broadcast into the scoring legs; the FINAL doc-keyed
    // left join (docs ← per-doc sums, both data-scale) may plan
    // merge or broadcast by stats — either is the honest shape
    val p = plan("q117_lm_perplexity")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2, s"expected the 2 broadcast model joins, got $bhj:\n$p")
    assert(!p.contains("Window") && !p.contains("BroadcastNestedLoop") &&
      !p.contains("CartesianProduct"),
      s"no window or nested loop in the scoring path:\n$p")
  }

  test("q108 line dedup: keep-first is a partial-agg min(struct), not a window") {
    // the 100 TB shape: hot boilerplate lines collapse map-side via
    // partial_min before the line-keyed shuffle; a per-line window
    // row_number (single-reducer hot groups) must not come back
    val p = plan("q108_line_dedup")
    assert(!p.contains("Window"),
      s"keep-first must be the agg form, no per-line window:\n$p")
    assert(p.contains("partial_min"),
      s"expected map-side partial min(struct(doc,pos)):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q93 residual IVFADC: same keyed probe-join shape as q91") {
    val p = plan("q93_ann_ivfadc_residual")
    val windows = "(?m)^\\s*[*+-]*\\s*Window ".r.findAllIn(p).length
    assert(windows == 1, s"expected exactly 1 Window (query_id top-k):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"residual IVFADC must stay a keyed probe join:\n$p")
    assert(p.contains("vec_top_cells_dist2") && p.contains("pq_adc") &&
      p.contains("vec_sub_long"),
      s"expected the cell, residual, and ADC kernels in the plan:\n$p")
  }

  test("q88 exhaustive-ADC baseline: hash probe join, no BNL (delegated form)") {
    // the recall baseline still scores every corpus code by DESIGN,
    // but the old codes.crossJoin(queries) BNL must never come back:
    // the delegation routes it through the single-cell indexed probe,
    // a broadcast-hash join on the constant cell
    val p = plan("q88_ann_pq_adc")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q88 must run as the delegated hash probe:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("pq_adc"),
      s"expected the broadcast-hash ADC probe in the plan:\n$p")
  }

  test("q102 production chain: index scan + two broadcast-hash stages, no re-encode") {
    // shortlist stage: pure (cell, codes) index scan probed by a
    // broadcast-hash join; rerank stage: broadcast-hash candidate
    // fetch of the raw vectors. The corpus must NOT be re-encoded at
    // probe time — no cell kernel, no residual kernel in the plan
    // (both ran once, inside the checkpointed index build).
    val p = plan("q102_ann_production_chain")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"production chain must stay keyed:\n$p")
    assert(!p.contains("vec_top_cells_dist2") && !p.contains("vec_sub_long"),
      s"probe must read the materialized index, not re-encode the corpus:\n$p")
    assert(p.contains("pq_adc") && p.contains("vec_dist2_long"),
      s"expected the ADC shortlist and exact-rerank kernels:\n$p")
    // the shortlist Window rides inside the broadcast branch (':'
    // tree-art prefix), so count Window operators by their bracketed
    // spec rather than the line-start anchor the top-level tests use
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows == 2, s"expected exactly 2 Windows (shortlist + rerank top-k):\n$p")
  }

  test("q63/q64 dedup pipelines: 2 keyed exchanges, no nested-loop joins") {
    // the plans proven in round 2 must not silently regress: candidate
    // generation is keyed (bucket-by-shingle) and scoring is keyed
    // (group-by-pair) — exactly 2 hash exchanges, never a broadcast
    // nested loop or cartesian (all-pairs would show up here first).
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    for ((label, df) <- Seq(
        "q63 pruned" -> graft.ops.Dedup.ngramJaccardPairsPruned(
          docs, "doc_id", "text", k = 3, threshold = 0.5, maxDf = 20),
        "q64 pairs" -> graft.ops.Dedup.ngramJaccardPairs(
          docs, "doc_id", "text", k = 3, threshold = 0.5))) {
      val p = df.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(shuffles == 2, s"$label: expected 2 keyed exchanges, got $shuffles:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$label: nested-loop/cartesian crept into the dedup pipeline:\n$p")
    }
  }

  test("q78 span-dup: one corpus explode, pairs not positions on the wire") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.ops.Dedup.duplicatedSpanRate(docs, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    // the position multiset must collapse to (doc,shingle) pairs in a
    // map-side-combined aggregate BEFORE any exchange — exactly one
    // Generate (explode) and no cartesian/BNL anywhere
    val generates = "Generate explode".r.findAllIn(p).length
    assert(generates == 1, s"expected 1 corpus explode, got $generates:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span-dup must stay keyed:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    // pair agg + shingle window + groupBy(id) + (join side when the
    // scan projection outgrows broadcast)
    assert(shuffles <= 4, s"unexpected exchanges ($shuffles):\n$p")
  }

  test("q81 fuzzy dedup e2e: banded candidates stay keyed end to end") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.ops.Dedup.dedupByPairs(docs, "doc_id",
        graft.ops.Dedup.minhashLshPairsPortable(docs, "doc_id", "text",
          k = 2, numHashes = 8, bands = 2, estThreshold = 0.5),
        "id_a", "id_b")
      .queryExecution.executedPlan.toString
    // signature build is per-row (no exchange to compute sketches);
    // candidate generation joins on (band, bucket-hash); the apply is
    // an anti-join on the id — nothing all-pairs anywhere
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fuzzy dedup must stay keyed:\n$p")
    assert(p.contains("LeftAnti"), s"expected the apply anti-join:\n$p")
  }

  test("dedupIncrementIndexed: corpus side reads the persisted index, never re-shingles") {
    // the VERDICT r7 #1 gate: against a parquet-materialized corpus
    // index, the ONLY shingle computation left in the plan is the
    // incoming batch's — the corpus side is pure index/keyset scans
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString
    graft.ops.Dedup.corpusShingleIndex(docs, "doc_id", "text", k = 3)
      .write.mode("overwrite").parquet(s"$dir/index")
    graft.ops.Dedup.corpusTextKeys(docs, "text")
      .write.mode("overwrite").parquet(s"$dir/keys")
    val idx = spark.read.parquet(s"$dir/index")
    val keys = spark.read.parquet(s"$dir/keys")
    // single-branch batch (a union would legally duplicate the batch
    // Generate via anti-join-through-union pushdown): %7==1 rows are
    // near-dups of the corpus (dropped), %7==2 rows fresh (survive)
    val incoming = docs.filter(($"doc_id" % 7).isin(1, 2))
      .select(($"doc_id" + 1000000).as("doc_id"),
        when($"doc_id" % 7 === 1, concat($"text", lit(" zzqx")))
          .otherwise(regexp_replace($"text", "(\\S+)", "zq$1")).as("text"))
    val out = graft.ops.Dedup.dedupIncrementIndexed(idx, keys, incoming,
      "doc_id", "text", k = 3, threshold = 0.5)
    val p = out.queryExecution.executedPlan.toString
    val shingleEvals = "shingle_set".r.findAllIn(p).length
    assert(shingleEvals == 1,
      s"expected exactly 1 (batch-side) shingle_set, got $shingleEvals:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"indexed increment must stay keyed:\n$p")
    // the persisted index keeps the survivors of the in-query form
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val got = ids(out)
    assert(got.nonEmpty)
    assert(got == ids(graft.ops.Dedup.dedupIncrement(docs, incoming,
      "doc_id", "text", k = 3, threshold = 0.5)))
  }

  test("ivfadcTopKIndexed: probe reads the persisted ANN index, never re-encodes") {
    // the q90 discipline applied to ANN: against a parquet-materialized
    // (neighbor_id, cell, codes) index, the corpus side is a pure index
    // scan — no PQ encode (vec_argmin_long) anywhere in the plan, the
    // one cell kernel left is the QUERY side's probe assignment
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cb = graft.ops.Similarity.coarseCodebook(emb, "vec_id", "embedding", 8)
    val cbs = graft.ops.Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 4, ksub = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-idx").toString
    graft.ops.Similarity.ivfadcIndex(emb, "vec_id", "embedding", cb, cbs)
      .write.mode("overwrite").parquet(s"$dir/index")
    val idx = spark.read.parquet(s"$dir/index")
    val out = graft.ops.Similarity.ivfadcTopKIndexed(idx,
      emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 10, cb, cbs,
      nProbe = 2)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("vec_argmin_long"),
      s"corpus must not be re-encoded — vec_argmin_long found:\n$p")
    // probe cells + ADC tables are driver-derived from ONE collect of
    // the queries (same compiled kernel, run driver-side), so the
    // distributed plan carries only the ADC scan over the index
    assert(p.contains("pq_adc") && !p.contains("vec_top_cells_dist2"),
      s"expected only the ADC kernel over the index scan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"indexed probe must stay a keyed join:\n$p")
    // the persisted index answers what the in-memory one does
    val direct = graft.ops.Similarity.ivfadcTopKIndexed(
      graft.ops.Similarity.ivfadcIndex(emb, "vec_id", "embedding", cb, cbs),
      emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 10, cb, cbs,
      nProbe = 2)
    val got = out.collect().toSeq
    assert(got.nonEmpty)
    assert(got.sortBy(_.toString) == direct.collect().toSeq.sortBy(_.toString))
  }

  test("q94 IVFADC+R: two ranking windows, shortlist joins stay keyed") {
    val p = plan("q94_ann_ivfadc_rerank")
    // window 1 = the ADC shortlist rank (inside the broadcast branch,
    // so count "Window [" anywhere, not just on the plan spine),
    // window 2 = the exact rerank
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows == 2, s"expected shortlist + rerank windows:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"rerank must stay keyed broadcast joins:\n$p")
    assert(p.contains("vec_dist2_long"),
      s"expected the exact-distance kernel in the rerank stage:\n$p")
  }

  test("q68 contamination: keyed semi-join shape, no nested loops") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.ops.TrainingPrep.contamination(docs, "doc_id", "text",
      k = 8, holdoutDenom = 10).queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), s"expected a semi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"contamination must stay keyed on the shingle:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    // distinct(train shingles) + groupBy(id) always; + the semi-join's
    // two sides when the train side outgrows broadcast
    assert(shuffles <= 4, s"unexpected exchanges ($shuffles):\n$p")
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    // The 100 TB scan-pruning path: when a selective dim filter feeds a
    // shuffled join, Catalyst's InjectRuntimeFilter plants a
    // might_contain(bloom_filter_agg(...)) predicate on the fact-side
    // SCAN, so most of the corpus drops before the exchange. The size
    // thresholds exist for small inputs, so pin the REWRITE itself with
    // thresholds lowered — proving the engine config reaches the rule
    // — and assert results are unchanged by the filter.
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // creationSideThreshold is an UPPER bound (dim must be smaller);
      // applicationSideScanSizeThreshold a LOWER bound (fact must be bigger)
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select($"l_orderkey", $"l_quantity")
      // Filter on a NON-join column: a join-key predicate would be
      // inferred onto the fact side too, and the rule skips scans that
      // already carry a selective filter.
      val dim = spark.read.parquet(s"$sf0001/orders.parquet")
        .filter($"o_custkey" % 100 === 0)
        .select($"o_orderkey")
      val j = fact.join(dim, $"l_orderkey" === $"o_orderkey")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter injected:\n$p")
      // the rewrite must not change results
      val expected = fact.as("f").join(dim.as("d"),
        $"f.l_orderkey" === $"d.o_orderkey").count()
      assert(j.count() == expected)
    }
  }

  test("IntervalUnionDays aggregator: correct under forced 1-row partitions") {
    val f = udaf(IntervalUnionDays(10000), Encoders.product[(Int, Option[Int])])
    val df = Seq(("A", 100, Some(130)), ("A", 120, Some(160)), ("A", 200, None),
      ("A", 90, Some(95)), ("B", 50, Some(60)))
      .toDF("k", "s", "e").repartition(5) // force merge() across buffers
    val out = df.groupBy($"k").agg(f($"s", $"e").as("d"))
      .as[(String, Long)].collect().toMap
    // A: [90,95)+[100,160)+[200,10000) = 5 + 60 + 9800
    assert(out("A") == 5 + 60 + 9800)
    assert(out("B") == 10)
  }

  test("IntervalUnionDays: hot key with 20k intervals stays exact under compaction") {
    // one key, 20 000 raw intervals, compactAt=64 → the buffer compacts
    // ~300 times and never holds more than 64 raw intervals + the
    // island list. Expected union computed independently below.
    val f = udaf(IntervalUnionDays(1000000, compactAt = 64),
      Encoders.product[(Int, Option[Int])])
    val ivs = (0 until 20000).map { i =>
      // overlapping runs of 10 within each 100-block, gap between blocks:
      // block b covers [b*100, b*100+19) from intervals i%10 in 0..9
      val b = i / 10
      (b * 100 + (i % 10), Some(b * 100 + (i % 10) + 10))
    }
    val expected: Long = {
      val closed = ivs.map { case (s, e) => (s, e.get) }.sortBy(_._1)
      var total = 0L; var cs = Int.MinValue; var ce = Int.MinValue
      closed.foreach { case (s, e) =>
        if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
        else if (e > ce) ce = e
      }
      if (ce > cs) total += ce - cs
      total
    }
    val out = ivs.map { case (s, e) => ("H", s, e) }.toDF("k", "s", "e")
      .repartition(32)
      .groupBy($"k").agg(f($"s", $"e").as("d"))
      .as[(String, Long)].collect().toMap
    assert(out("H") == expected)
  }

  test("bucketed shingle index: probe join consumes the scan with no corpus-side exchange") {
    // The steady-state fixture persists corpusShingleIndex in bucketed
    // layout (BucketedIndex, 32 buckets on shingle) so a LARGE batch
    // probe — too big for AQE to broadcast — shuffles only itself:
    // the planner must see HashPartitioning from the scan and plan the
    // shingle join with zero Exchange between the index scan and the
    // join. (Small batches broadcast; this is the 100 TB large-batch
    // property, VERDICT r9 #5.)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val dir = java.nio.file.Files.createTempDirectory("graft-bktidx").toString
      graft.sources.BucketedIndex.write(
        graft.ops.Dedup.corpusShingleIndex(docs, "doc_id", "text", 3),
        s"$dir/index", "shingle", 8)
      val idx = graft.sources.BucketedIndex.read(spark, s"$dir/index",
        "graft_test_bktidx", "shingle", 8)
      val keys = graft.ops.Dedup.corpusTextKeys(docs, "text")
      val batch = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val probe = graft.ops.Dedup.dedupIncrementIndexed(
        idx, keys, batch, "doc_id", "text", 3, 0.5)
      val plan = probe.queryExecution.executedPlan
      // the index side of the shingle join: a bucketed scan, reached
      // from the join with NO ShuffleExchange in between
      val joins = plan.collect {
        case j: SortMergeJoinExec
          if j.leftKeys.exists(_.toString.contains("shingle")) => j
        case j: ShuffledHashJoinExec
          if j.leftKeys.exists(_.toString.contains("shingle")) => j
      }
      val bucketSides = joins.flatMap(_.children).filter(side =>
        side.collect { case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("graft-bktidx")) => s
        }.nonEmpty)
      assert(bucketSides.nonEmpty, s"no join side reads the bucketed index:\n$plan")
      bucketSides.foreach { side =>
        val shuffles = side.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.isEmpty,
          s"bucketed index side still shuffles before its join:\n$side")
      }
      // and the layout is semantics-preserving: same survivors as the
      // plain-parquet index path
      val plainIdx = spark.read.parquet(s"$dir/index")
      val expect = graft.ops.Dedup.dedupIncrementIndexed(
        plainIdx, keys, batch, "doc_id", "text", 3, 0.5)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val got = probe.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == expect)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.sql("DROP TABLE IF EXISTS graft_test_bktidx")
    }
  }

  test("no unpartitioned WindowExec anywhere a window is planned") {
    // The r8/r9 bench tails carried an unattributed "WindowExec: No
    // Partition Defined" warning; WindowAudit traced it to the global
    // Σw window in temperatureQuotas, now a broadcast 1-row cross
    // join. Pin the fix on the quota users plus the suite's heaviest
    // window consumers so a regression is caught here, not in a bench
    // tail. (The full-suite sweep lives in `runMain graft.WindowAudit`.)
    for (q <- Seq("q95_temperature_mix", "q99_unimax_mix",
        "q03_current_version", "q85_rrf_fusion", "q12_create_ids")) {
      val p = SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan
      val bad = WindowAudit.unpartitionedWindows(p)
      assert(bad.isEmpty,
        s"$q plans an unpartitioned WindowExec: ${bad.mkString("; ")}")
    }
  }

  test("no unpartitioned WindowExec in the r19-inherited WARC/robots/" +
      "codec gates (q353-q365)") {
    // VERDICT r19 #7: the 13 gates inherited from the interrupted
    // build round joined the suite after the window audit's last
    // explicit sweep — enumerate them so every unpartitioned window
    // in their plans is provably the bounded slice-totals shape
    for (q <- Seq("q353_warc_records", "q354_warc_text_chain",
        "q355_warc_url_chain", "q356_ann_tombstone_probe",
        "q357_ann_compact_with_deletes", "q358_jpeg_sof_share",
        "q359_jpeg_progressive_decode", "q360_jpeg_progressive_sa",
        "q361_robots_parse", "q362_robots_filter",
        "q363_jpeg_color_progressive", "q364_png_color_luma",
        "q365_warc_compliance_chain")) {
      val p = SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan
      val bad = WindowAudit.unpartitionedWindows(p)
      assert(bad.isEmpty,
        s"$q plans an unpartitioned WindowExec: ${bad.mkString("; ")}")
    }
  }

  test("q230/q237 drift reports: AQE reuses the shared prefix frame " +
      "across the four statistic branches") {
    for (q <- Seq("q230_drift_report", "q237_drift_report_by")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      df.collect() // reuse is an ADAPTIVE decision — visible post-run
      val p = df.queryExecution.executedPlan.toString
      val reused = "ReusedExchange|ReusedQueryStage".r.findAllIn(p).length
      assert(reused > 0,
        s"$q: expected the shared count/prefix subplan to be reused:\n" +
          p.take(4000))
    }
  }

  test("WindowAudit offsets-chain exemption admits ONLY the bounded " +
      "slice-totals shape, not a global data window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.execution.window.WindowExec
    // a genuine global window over data must still be flagged
    val df = spark.range(100).toDF("v")
    val global = df.withColumn("r",
      sum(col("v")).over(Window.orderBy(col("v"))))
    assert(WindowAudit.unpartitionedWindows(
      global.queryExecution.executedPlan).nonEmpty,
      "a global data window escaped the audit")
    // the constant-key drift op folds its offsets partition spec
    // empty (FoldablePropagation) — the audit must see the folded
    // window in the raw plan yet exempt it, because its input is the
    // P-row slice-totals roll-up, not the data
    val p = SparkEntry.queries("q213_ks_drift")(spark, sf0001)
      .queryExecution.executedPlan
    def raw(pl: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] = {
      val here = pl.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          raw(a.inputPlan)
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
      }.flatten
      here ++ pl.collect { case x => x.subqueries.flatMap(raw) }.flatten
    }
    assert(raw(p).nonEmpty, "expected the folded offsets window in q213")
    assert(WindowAudit.unpartitionedWindows(p).isEmpty,
      "the bounded offsets chain must be exempt")
  }

  test("q145 steady incremental agg: one lineitem scan (the batch), history absent") {
    val p = plan("q145_incr_agg_steady")
    // the probe plan reads the persisted summary state plus the mod-97
    // batch slice — the history rows never appear. One lineitem scan,
    // with the batch filter pushed to it.
    val lineitemScans = "lineitem\\.parquet".r.findAllIn(p).length
    assert(lineitemScans == 1, s"expected 1 lineitem scan, got $lineitemScans")
    assert(p.contains("graft_agg_state"), "persisted state scan missing")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q163 six-table star: dims broadcast, fact scanned once, no BNL") {
    val p = plan("q163_local_supplier_volume")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 3, s"expected the dims to broadcast, got $bhj BHJs")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
    val factScans = "lineitem\\.parquet".r.findAllIn(p).length
    assert(factScans == 1, s"expected 1 lineitem scan, got $factScans")
  }

  test("q168 summary rewrite: the fact scan is GONE — plan reads the summary state") {
    val p = plan("q168_summary_rewrite")
    assert(p.contains("graft_agg_full"),
      "rewritten plan must scan the persisted summary state")
    val factScans = "lineitem\\.parquet".r.findAllIn(p).length
    assert(factScans == 0,
      s"materialized-view rewrite did not fire: $factScans lineitem scans")
    // containment: an aggregate the summary CANNOT answer (extra
    // grouping key / filtered detail / unsupported agg) is untouched
    import org.apache.spark.sql.functions._
    val lw = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val other = lw.filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("l_suppkey"))
      .agg(count(lit(1)).as("n"))
    assert(other.queryExecution.executedPlan.toString
      .contains("lineitem.parquet"),
      "non-key-filtered detail must NOT rewrite")
    // … while a KEY-only predicate rewrites to a filtered state scan
    val keyFiltered = lw.filter(col("l_returnflag") === "N")
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("l_suppkey"))
      .agg(count(lit(1)).as("n"))
    val kp = keyFiltered.queryExecution.executedPlan.toString
    assert(kp.contains("graft_agg_full") && !kp.contains("lineitem.parquet"),
      "key-only filter should rewrite (q173)")
    val avgQ = lw.groupBy(col("l_returnflag"), col("l_linestatus"),
        col("l_suppkey"))
      .agg(avg(col("l_quantity")).as("a"))
    assert(avgQ.queryExecution.executedPlan.toString
      .contains("lineitem.parquet"), "unsupported agg must NOT rewrite")
    // subset grouping DOES rewrite (rollup compatibility, q169) —
    // but a grouping key the summary doesn't carry must not
    val subsetKeys = lw.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
    val sp = subsetKeys.queryExecution.executedPlan.toString
    assert(sp.contains("graft_agg_full") && !sp.contains("lineitem.parquet"),
      "subset grouping should roll up from the summary")
    val foreignKey = lw.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"))
    assert(foreignKey.queryExecution.executedPlan.toString
      .contains("lineitem.parquet"), "non-summary key must NOT rewrite")
  }

  test("q190 declined rewrite: non-key predicate keeps the fact scan") {
    // the GATED negative-space query (VERDICT r10 #5): subset keys +
    // key filter would rewrite, but the l_quantity predicate needs
    // detail rows — the rule must leave the fact scan in place (the
    // oracle then proves the detail plan's answer is exact)
    val p = plan("q190_summary_declined")
    assert(p.contains("lineitem.parquet"),
      s"q190 must NOT be answered from the summary:\n$p")
    assert(!p.contains("graft_agg_full"),
      s"q190's plan must not touch the summary state:\n$p")
  }

  test("q152 spatial join: keyed equi-join on grid cells, no BNL") {
    val p = plan("q152_spatial_join")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      "spatial join must meet on cell keys, not a nested loop")
    // the distance predicate is a post-join filter on an equi-join,
    // so SOME hash/merge join on the cell key must be present
    assert(p.contains("Join"), "expected a join operator")
  }

  test("PlanDump.mask: run-specific ids masked, plan text kept") {
    val raw = "Exchange hashpartitioning(k#123L, 4), [plan_id=42]\n" +
      "Arguments: [id#7L], MapPartitionsRDD[104] at localCheckpoint at " +
      "Profile.scala:981, ExistingRDD\n" +
      "Arguments: graft.ops.Multimodal$$$Lambda/0x00007f3c0c4b2a10@3ac3cae8, " +
      "obj#9: scala.Tuple9\n" +
      "vec_argmin_long(slice(v#5, 1, 16), [[J@523e0ffb)\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_wkt_scan_123_4567]"
    assert(PlanDump.mask(raw) ==
      "Exchange hashpartitioning(k#NL, 4), [plan_id=N]\n" +
      "Arguments: [id#NL], MapPartitionsRDD[N] at localCheckpoint at " +
      "Profile.scala:N, ExistingRDD\n" +
      "Arguments: graft.ops.Multimodal$$$Lambda@N, obj#N: scala.Tuple9\n" +
      "vec_argmin_long(slice(v#N, 1, 16), [[J@N)\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_wkt_scan_123]")
  }
}
