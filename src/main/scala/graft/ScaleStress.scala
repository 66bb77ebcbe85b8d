package graft

import org.apache.spark.sql.functions._

/** Scale-stress runner behind SCALE.md: synthesizes a `factor`x corpus
  * from a base scale dir and times the heavy dedup/similarity/packing
  * pipelines at 1x vs Nx, recording wall time and total shuffle-write
  * bytes per run, so the 100 TB scaling claims (bounded buckets,
  * keyed candidate generation, linear pair growth) are verified by an
  * order-of-magnitude data point instead of argued from plan shape.
  *
  * Documents are replicated with a PER-COPY TOKEN PREFIX (`c<i>` on
  * every token), not verbatim: verbatim copies would make every doc a
  * (factor-1)-way near-duplicate of its clones, growing candidate
  * pairs quadratically in `factor` — a different (and unrealistically
  * adversarial) workload. The prefix keeps each copy's internal
  * shingle structure bit-identical while making vocab disjoint across
  * copies (the `_` separator keeps the tag prefix-free: `c1` can never
  * collide with a `c10` prefix at factor ≥ 10), so near-dup density —
  * pairs per document — matches the base
  * corpus exactly and the honest expectation for every pipeline is
  * linear growth. Ids offset by i*10M per copy (disjoint by
  * construction: base ids are < 10M).
  *
  * Usage: ScaleStress [baseDir] [factor] [synthDir]
  * Prints one JSON line per (query, scale) run.
  */
object ScaleStress {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val synth = if (args.length > 2) args(2) else "/tmp/graft_scale"
    val shufflePartitions = 32
    val spark = Sessions.local(conf = Seq(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString))
    val meter = RunMeter.attach(spark)

    def copiesMulti(tbl: String, offsetCols: Seq[String],
        prefixCols: Seq[String], tagOf: Int => String = i => s"c$i",
        offset: Long = 10000000L,
        post: (org.apache.spark.sql.DataFrame, Int) =>
          org.apache.spark.sql.DataFrame = (d, _) => d) = {
      val df = spark.read.parquet(s"$base/$tbl.parquet")
      (0 until factor).map { i =>
        val off = offsetCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i.toLong * offset)))
        post(prefixCols.foldLeft(off)((d, c) =>
          d.withColumn(c, regexp_replace(col(c), "(\\S+)", s"${tagOf(i)}_$$1"))), i)
      }.reduce(_ unionByName _)
    }
    /** Length-preserving per-copy letter permutation (copy 0 = the
      * identity): shift s = i mod 26, plus an alphabet reversal every
      * 26 copies so all i < 52 get distinct permutations. Preserves
      * string length, token structure, and every within-copy edit
      * distance EXACTLY (a character bijection), so per-copy gate
      * structure is bit-identical to the base corpus; two copies'
      * versions of the same name differ at every letter (Caesar has
      * no fixed points for s ≠ 0), so cross-copy pairs are impossible
      * at any small edit threshold. */
    def letterPerm(c: String, i: Int)(d: org.apache.spark.sql.DataFrame) = {
      val az = "abcdefghijklmnopqrstuvwxyz"
      val s = i % 26
      val rev = (i / 26) % 2 == 1
      val mapped = az.map { ch =>
        val x = ch - 'a'
        val y = if (rev) 25 - x else x
        ('a' + (y + s) % 26).toChar
      }.mkString
      if (i == 0) d else d.withColumn(c, translate(col(c), az, mapped))
    }
    def copies(tbl: String, idCol: String, prefixText: Boolean) =
      copiesMulti(tbl, Seq(idCol), if (prefixText) Seq("text") else Nil)
    val synthG = s"$synth/graph"
    copies("documents", "doc_id", prefixText = true)
      .write.mode("overwrite").parquet(s"$synth/documents.parquet")
    copies("embeddings", "vec_id", prefixText = false)
      .write.mode("overwrite").parquet(s"$synth/embeddings.parquet")
    // lineitem feeds the sketch gates: id-offset copies multiply the
    // distinct-orderkey population (HLL) and every frequency (CMS/hist)
    // by `factor` — the sketches' claim is that their SHUFFLE does not
    // grow at all (bounded by state size · partitions)
    copies("lineitem", "l_orderkey", prefixText = false)
      .write.mode("overwrite").parquet(s"$synth/lineitem.parquet")
    // GRAPH-shaped synthesis (round 11): the graph/profile/ER gates
    // need the NODE space to grow — with only l_orderkey offset, the
    // (l_suppkey → o_custkey) edge set would dedupe back to the base
    // graph and measure nothing. Offsetting every key column makes
    // each copy a disjoint replica of the base graph (node count ×f,
    // edge count ×f, per-copy structure bit-identical — the same
    // honest-linear-growth design as the token prefix). Entity names
    // get the token prefix so per-copy ER structure is identical and
    // cross-copy candidates are impossible.
    // Graph-shaped offsets are 12,000,000, not 10,000,000 (both keep
    // copies id-disjoint: base ids < 10M): per-copy gate structure is
    // derived from ids through pmod masks — q182 mutates the
    // p_partkey ≡ 0 (mod 3) third into probes, q151 seeds s_suppkey ≡
    // 0 (mod 10) — and an offset ≢ 0 mod the mask rotates the mask
    // per copy, so copies were NOT bit-identical replicas (the real
    // source of r11's q182 31.2×-not-30× note: each copy mutates a
    // different third and yields a slightly different pair count).
    // 12M ≡ 0 (mod 3) and (mod 10) pins both masks copy-invariant.
    val gOff = 12000000L
    copiesMulti("lineitem",
        Seq("l_orderkey", "l_suppkey", "l_partkey"), Nil, offset = gOff)
      .write.mode("overwrite").parquet(s"$synthG/lineitem.parquet")
    copiesMulti("orders", Seq("o_orderkey", "o_custkey"), Nil,
        offset = gOff)
      .write.mode("overwrite").parquet(s"$synthG/orders.parquet")
    copiesMulti("supplier", Seq("s_suppkey"), Nil, offset = gOff)
      .write.mode("overwrite").parquet(s"$synthG/supplier.parquet")
    // ER input (SCALE.md r11 honesty note, retired in r12): token
    // PREFIXES cannot make the ER scale rows read exactly N× — they
    // change name LENGTHS (so the gate's length-≥8 admission differs
    // per copy from base) and shift which character the probe
    // mutation hits. The letter permutation is the correct synthesis:
    // length/structure/edit-distance preserving within a copy, all
    // letters differing across copies.
    copiesMulti("part", Seq("p_partkey"), Nil, offset = gOff,
        post = (d, i) => letterPerm("p_name", i)(d))
      .write.mode("overwrite").parquet(s"$synthG/part.parquet")

    val allQnames = Seq("q26_ngram_jaccard", "q63_jaccard_pruned",
      "q64_neardup_components", "q68_contamination", "q72_kmeans_micro",
      "q78_span_dup", "q79_neardup_dedup", "q81_fuzzy_dedup_e2e",
      "q96_fuzzy_decontamination", "q97_span_scrub",
      // q107 is excluded: it is a zero-shuffle pure scan (PlanSpec
      // pins that), and the token-prefixed synthetic corpus breaks its
      // ' join ' line derivation (no lines -> 0 rows, uninformative)
      "q108_line_dedup", "q116_dsir_selection", "q117_lm_perplexity",
      "q118_dsir_indexed",
      // the portable sketches: input grows factor-x, state is fixed —
      // shuffle must stay FLAT, the one growth exponent that is
      // supposed to be zero
      "q127_hll_registers", "q133_cms_sketch", "q135_hist_sketch",
      // round-10 third leg: summary-state operators whose shuffle is
      // bounded by state size, not input — incremental agg state
      // (≤ |keys| rows/partition), the Misra–Gries summary (O(k)
      // buffer; its exact-count arm is keyed on a FIXED key space),
      // and the mod-211 triangle graph (node space constant, only
      // the edge-discovery scan grows)
      "q144_incr_agg", "q149_triangle_count", "q154_heavy_hitters",
      // round 11 (VERDICT r10 #1): the post-r6 heavy families whose
      // 100 TB claims rested on plan shape alone. Graph + profile +
      // entity resolution run against the graph-shaped synthesis
      // (disjoint replicas: nodes ×f, edges ×f); sketches/BPE/steady
      // probes against the standard synthesis.
      "q125_pagerank", "q150_hits", "q151_bfs_hops",
      "q185_pagerank_weighted",
      "q134_cms_estimate", "q167_hll_grouped", "q183_hist_grouped",
      "q186_cms_grouped", "q187_hll_fast", "q188_cms_fast",
      "q140_profile", "q189_profile_approx",
      "q182_entity_resolution", "q177_bpe_train",
      "q103_dedup_increment_steady", "q121_ann_ivfadc_steady",
      // round-11 late additions: the skew-safe prefix-sum family
      // (q191 over orders → graph-shaped synthesis, which offsets
      // o_orderkey; q196 over documents → standard synthesis)
      "q191_running_total", "q196_pps_sample",
      // round-12 additions to the prefix-sum family: the moment-tuple
      // running aggregate (orders → graph-shaped) and concat-and-
      // slice sequence packing (documents → standard)
      "q200_running_moments", "q201_sequence_packing",
      "q203_group_median",
      // round-12 late additions: weighted/targeted order statistics
      // and rank features (orders → graph-shaped: 5 priority groups
      // absorb f× the members — the mega-key shape), plus the
      // categorical profile (lineitem → graph-shaped, 3 flag groups)
      "q205_weighted_percentiles", "q206_rank_features",
      "q208_categorical_profile",
      // round-12 drift family (documents → standard synthesis: rows
      // ×f while the distinct n_chars value space is copy-invariant,
      // so everything past the first count aggregate — the prefix
      // sums, the totals, the reduce — must stay FLAT; the count
      // aggregate itself is map-side combinable) and the per-row
      // lag/lead (orders → graph-shaped: every row needs an output,
      // the honest-linear shape)
      "q213_ks_drift", "q218_emd_drift", "q220_tvd_drift",
      "q222_ks_drift_steady", "q217_lag_lead",
      // round-12 third wave: binned/PSI-shaped and CvM drift
      // (documents → standard, the flat claim again) and the
      // equi-depth histogram (orders → graph-shaped: 5 priority
      // mega-groups absorb f× members)
      "q224_binned_drift", "q227_cvm_drift", "q223_equidepth_hist",
      // round-14 steady/keyed drift wave (documents → standard
      // synthesis: rows ×f, the distinct (lang, n_chars) space is
      // copy-invariant, so the merged count frames, prefix sums and
      // report tails must stay FLAT — only the probe-side count
      // aggregate sees ×f rows, and it is map-side combinable)
      "q238_drift_report_steady", "q242_drift_report_by_steady",
      "q243_tvd_drift_by_steady",
      // interpolated percentiles: two targeted picks per (group, p)
      // over the 5 priority mega-groups (orders → graph-shaped)
      "q225_percentile_cont",
      // the closing wave: exact Spearman (two rank passes), the
      // fused expectations scan, and the Monotone sequential rule —
      // all orders/lineitem → graph-shaped (keys ×f, per-copy
      // structure identical, so violation counts scale exactly ×f)
      "q231_spearman", "q232_expectations_fd",
      "q234_expectations_seq",
      // round-15 additions: the new graph ops against the
      // graph-shaped synthesis (disjoint replicas — honest node/edge
      // ×f growth for the peel cascade and the Bellman–Ford rounds),
      // and the corpus-statistics/media wings against the standard
      // documents synthesis (rows ×f; q287's spectrum and q289's
      // vocab stay copy-invariant-keyed so their aggregates must
      // hold sketch-sized, q283's dedup groups multiply, q284's
      // per-lang ranking windows absorb f× rows per lang — the
      // mega-key window shape)
      "q283_media_dedup_exact", "q284_ranking_eval",
      "q285_kcore", "q287_term_spectrum", "q289_vocab_growth",
      "q290_shortest_paths",
      // round-16 additions (standard documents/embeddings synthesis):
      // ROUGE pairs (pair set ×f — copy offsets keep (id, id+1)
      // adjacency within copies and never across), distinct-n (the
      // per-copy text prefix adds one gram per doc; spectrum stays
      // group-keyed), the prefix-filtered exact dedup e2e at t = 1/2
      // (candidates confined within copies by the per-copy prefix),
      // the image near-dup composite (4-block pairs ×f), and the PCA
      // chain — where the 10× arm has an ALGEBRAIC invariant: f
      // identical copies give M' = f²M, so the power iteration must
      // land the IDENTICAL direction while the scatter scan pays ×f
      "q311_rouge2_pairs", "q312_distinct_ngram",
      "q309_dedup_prefix_exact_e2e", "q321_media_neardup_e2e",
      "q318_pca_scatter", "q319_pca_direction",
      // round-17 additions: langid (standard documents synthesis —
      // training counts scale ×f so the smoothed log-probs MOVE, but
      // the plan shape is the pin: gram explode + broadcast model +
      // keyed sum + rank-1 argmax must stay flat per task), the
      // deflation PCA chain + its chained sign-cell ANN (embeddings:
      // the f-copies invariant M' = f²M must land IDENTICAL
      // components; the ANN's cell space is fixed at 2^k so cells
      // absorb ×f members — the honest mega-cell shape), t-closeness
      // (orders → graph-shaped: classes ×f, |values| fixed), and the
      // video near-dup composite (mod-4 lane ×f; 10M-offset copies
      // land in fresh watermark groups so pairs stay within copies)
      "q328_langid", "q331_pca_components", "q333_pca_cell_ann",
      "q334_t_closeness", "q336_video_neardup_e2e",
      // round-18 additions (standard syntheses): JPEG pixel decode
      // (rows ×f, per-row decode, near-zero shuffle), the mixed
      // PNG+JPEG near-dup composite (10M-offset copies land in fresh
      // knuth groups so pairs stay within copies — linear), URL dedup
      // (the canonical key space is residue-bounded, so copies MERGE
      // into existing groups — the mega-key map-side-combinable
      // shape), the domain PageRank join (domain node space is
      // residue-FIXED: the graph stays constant while the
      // canonicalize scan pays ×f), the two-epoch ANN index probe
      // (index rows ×f, fixed probe set — the q121 mega-cell shape),
      // and the audio band pairs (fresh per-copy waveform residues —
      // twins stay within copies, linear)
      "q337_jpeg_pixel_decode", "q339_mixed_neardup_e2e",
      "q341_url_dedup", "q342_domain_pagerank_join",
      "q343_ann_index_append_steady", "q345_audio_band_pairs",
      "q353_warc_records", "q354_warc_text_chain", "q355_warc_url_chain",
      "q362_robots_filter")

    /** Queries whose workload lives in the key/node space — routed to
      * the graph-shaped synthesis dir. */
    val graphShaped = Set("q125_pagerank", "q150_hits", "q151_bfs_hops",
      "q285_kcore", "q290_shortest_paths",
      "q185_pagerank_weighted", "q140_profile", "q189_profile_approx",
      "q182_entity_resolution", "q191_running_total",
      "q200_running_moments", "q203_group_median",
      "q205_weighted_percentiles", "q206_rank_features",
      "q208_categorical_profile", "q217_lag_lead",
      "q223_equidepth_hist", "q225_percentile_cont",
      "q231_spearman", "q232_expectations_fd",
      "q234_expectations_seq", "q334_t_closeness")
    // optional 4th arg: comma-separated name prefixes for targeted runs
    val qnames = if (args.length > 3) {
      val ps = args(3).split(',')
      allQnames.filter(q => ps.exists(q.startsWith))
    } else allQnames
    // one warm pass so JVM/codegen startup (and any one-off
    // FixtureCache builds for the steady-state probes) doesn't bill
    // to the 1x runs — run it against BOTH dirs so the Nx fixtures
    // build outside the measured window too
    qnames.foreach { q =>
      SparkEntry.queries(q)(spark, base).count()
      SparkEntry.queries(q)(spark,
        if (graphShaped(q)) synthG else synth).count()
    }
    val reps = RunMeter.Reps
    for (q <- qnames; (label, dir) <- Seq("1x" -> base,
        s"${factor}x" -> (if (graphShaped(q)) synthG else synth))) {
      val (sec, n, m) = meter.medianOf(reps)(() => SparkEntry.queries(q)(spark, dir))
      val mb = m.shuffleBytes / 1e6 / reps
      println(String.format(java.util.Locale.ROOT,
        """{"query":"%s","scale":"%s","rows":%d,"sec":%.3f,"shuffle_mb":%.1f,"peak_mem_mb":%.1f,"max_task_peak_mb":%.1f,"max_task_stage":"%s","partitions":%d,"reps":%d}""",
        q, label, Long.box(n), Double.box(sec),
        Double.box(mb), Double.box(m.stagePeakMem / 1e6),
        Double.box(m.maxTaskPeak / 1e6), m.maxTaskStage,
        Int.box(shufflePartitions), Int.box(reps)))
    }
    spark.stop()
  }
}
