package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Temporal
import graft.pipeline.{DirCommit, ImportPipeline}

/** Streaming SCD2 ingest — the reference's incremental temporal merge
  * (README.md:28 "second and later runs are incremental";
  * bagh/batch.py:111-131) re-expressed as a Structured Streaming sink.
  *
  * Shape: `readStream` (any source) → `foreachBatch`: per micro-batch
  * validate → `mergeScd2` against the live snapshot → atomic
  * snapshot-dir commit (write + pointer swap, §7.4.3). Correctness
  * under replay: foreachBatch may re-deliver an epoch after failure,
  * and `mergeScd2` is idempotent (property-tested in PropertySpec), so
  * re-merging the same batch leaves the snapshot unchanged — the sink
  * is effectively exactly-once without a transactional store.
  *
  * Scale: the merge is one full-outer join keyed on `idCol` per
  * micro-batch (broadcast the batch side when small); the snapshot
  * rewrite is the cost — at 100 TB the same operator lands on a table
  * format with real MERGE, but the plan shape is identical.
  */
/** One unioned as-of event: a quote (isQuote, carries `value`) or a
  * probe (carries `pid`, the probe's identity in the output). The
  * unused lane rides 0 — Options in hot streaming rows cost an
  * allocation per event. */
case class AsofEvent(key: Long, ord: Long, isQuote: Boolean,
  value: Long, pid: Long)

/** A probe's enrich result: the as-of quote value, if any yet. */
case class AsofMatch(key: Long, pid: Long, asof: Option[Long])

object StreamingIngest {

  /** Streaming incremental dedup ingest — the
    * [[graft.ops.Dedup.dedupIncrementFullIndexedBloom]] loop wired
    * into `foreachBatch`: per micro-batch, full incremental dedup
    * (batch exact + batch near-dup + corpus increment) against the
    * PERSISTED corpus shingle index, with the exact arm prefiltered
    * by the PERSISTED Bloom bitmap (bloom-negative rows skip the
    * keyset anti-join; identical results — no false negatives), then
    * the survivors append to corpus, index, keyset, and bitmap
    * ([[graft.ops.Dedup.bloomMerge]] ORs the batch's bits in — the
    * filter is never rebuilt from the full keyset). The corpus is
    * never re-shingled — each epoch reads the index and writes its
    * own delta, exactly the materialized-index contract.
    *
    * Commit protocol ([[DirCommit]]): all five frames write to one
    * staging root, which is then promoted to `<stateDir>/current` —
    * corpus/index/keys/bloom plus the portable HLL cardinality sketch
    * ([[graft.ops.Sketches]], max-merged per epoch) can never
    * disagree, the manifest-swap discipline a table format provides
    * at scale. A crash mid-commit is healed at the next epoch's
    * entry, so no committed state is ever lost. Replay safety
    * falls out of the semantics: re-delivering a committed epoch
    * re-accepts nothing (every previously-accepted text is in the
    * keyset — and in the bitmap, so it flows through the anti-join
    * arm and drops) and recommits identical state, the bitmap
    * unchanged (OR with an empty delta). A `current` written by a
    * pre-bitmap version of this ingest upgrades in place: the missing
    * bitmap is derived from the committed keyset. */
  def dedupIngest(stream: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double, stateDir: String,
      checkpointDir: String, bloomBits: Int = 1 << 17,
      bloomHashes: Int = 5): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        dedupIngestBatch(batch, idCol, textCol, k, threshold, stateDir,
          bloomBits, bloomHashes)
      }
      .start()

  /** One epoch of [[dedupIngest]], separated so the batch path is
    * directly testable and reusable by a non-streaming ingest loop. */
  def dedupIngestBatch(batch: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double, stateDir: String,
      bloomBits: Int = 1 << 17, bloomHashes: Int = 5): Unit = {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.col
    import graft.ops.Dedup
    val spark = batch.sparkSession
    val cur = s"$stateDir/current"
    val exists = DirCommit.current(cur)
    val committedBloom =
      if (exists && Files.exists(Paths.get(s"$cur/bloom")))
        Dedup.bloomRead(spark, s"$cur/bloom", bloomBits)
      else if (exists) // pre-bitmap state: derive once from the keyset
        Dedup.bloomBuild(spark.read.parquet(s"$cur/keys"), textCol,
          bloomBits, bloomHashes)
      else null
    // materialize the survivors BEFORE any writes: the frames below
    // are consumed three times and must not see mid-commit state
    val accepted = (if (exists)
        Dedup.dedupIncrementFullIndexedBloom(
          spark.read.parquet(s"$cur/index"), spark.read.parquet(s"$cur/keys"),
          committedBloom, batch, idCol, textCol, k, threshold,
          bloomBits, bloomHashes)
      else // first epoch: no corpus yet — within-batch dedup only
        Dedup.nearDupDeduplicated(
          Dedup.deduplicated(batch, idCol, textCol),
          idCol, textCol, k, threshold))
      .localCheckpoint()
    val (idx, keys) =
      if (exists) Dedup.indexAppend(spark.read.parquet(s"$cur/index"),
        spark.read.parquet(s"$cur/keys"), accepted, idCol, textCol, k)
      else (Dedup.corpusShingleIndex(accepted, idCol, textCol, k),
        Dedup.corpusTextKeys(accepted, textCol))
    val corpus =
      if (exists) spark.read.parquet(s"$cur/corpus").unionByName(accepted)
      else accepted.toDF()
    val bloomDelta = Dedup.bloomBuild(accepted.select(col(textCol)),
      textCol, bloomBits, bloomHashes)
    val bloom =
      if (committedBloom == null) bloomDelta
      else Dedup.bloomMerge(committedBloom, bloomDelta)
    // fifth frame: the portable HLL cardinality sketch over the
    // accepted text keys. Per epoch it max-merges the batch's
    // registers in (hllRegisters is distinct-insensitive, so
    // merge-over-epochs ≡ rebuild-over-keys EXACTLY — spec-pinned, and
    // replaying a committed epoch merges the same values: no-op); a
    // pre-HLL `current` upgrades in place from the keyset. At 100 TB
    // this answers "how many distinct documents does the corpus hold"
    // from 256 rows of state instead of a keys-table scan, and hands
    // the count to any engine that can read parquet + md5.
    import graft.ops.Sketches
    val hll =
      if (exists && Files.exists(Paths.get(s"$cur/hll")))
        Sketches.hllMerge(Sketches.hllRead(spark, s"$cur/hll"),
          Sketches.hllRegisters(accepted.select(col(textCol)), textCol))
      else Sketches.hllRegisters(keys, textCol)
    DirCommit.commit(cur) { staging =>
      corpus.write.mode("overwrite").parquet(s"$staging/corpus")
      idx.write.mode("overwrite").parquet(s"$staging/index")
      keys.write.mode("overwrite").parquet(s"$staging/keys")
      Dedup.bloomWrite(bloom, spark, s"$staging/bloom")
      Sketches.hllWrite(hll, s"$staging/hll")
    }
  }

  /** Streaming ANN-index ingest — [[graft.ops.Similarity.annIndexAppend]]
    * wired into `foreachBatch`: per micro-batch, encode the new vectors
    * with the FROZEN codebooks (coarse cells + PQ codes, one scan) and
    * append the delta to the persisted (neighbor_id, cell, codes)
    * index — the raw vectors never need to be kept, and the index is
    * probe-ready between epochs via
    * [[graft.ops.Similarity.ivfadcTopKIndexed]].
    *
    * Replay safety: encoding is deterministic but append is not
    * idempotent by itself, so each epoch first anti-joins the batch
    * against the committed index on the id — a re-delivered epoch
    * appends nothing and recommits identical state (the dedupIngest
    * discipline; ids must be unique across the stream, the usual ANN
    * contract). Commit = [[DirCommit]]. Codebook drift is the
    * caller's retraining decision — a retrain means a new stateDir,
    * never an in-place mutation.
    *
    * Scale note: this local-mode state REWRITES the full index into
    * staging each epoch — the price of the single-pointer atomic swap,
    * fine at gate scale, wrong at 100 TB. A deployment keeps the index
    * as an append-log of per-epoch delta directories (each ∝ batch,
    * written once, bucketed by `cell` per COVERAGE.md standing rule 3)
    * under a committed manifest; the swap then commits the MANIFEST,
    * not the data, and per-epoch I/O stays ∝ batch. The operator
    * surface is unchanged either way: probes read the union of deltas
    * exactly as [[graft.ops.Similarity.ivfadcTopKIndexed]] reads this
    * single frame. */
  def annIngest(stream: DataFrame, idCol: String, vecCol: String,
      cb: Array[Array[Double]], cbs: Array[Array[Array[Long]]],
      stateDir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        annIngestBatch(batch, idCol, vecCol, cb, cbs, stateDir)
      }
      .start()

  /** One epoch of [[annIngest]], separated so the batch path is
    * directly testable and reusable by a non-streaming index loop. */
  def annIngestBatch(batch: DataFrame, idCol: String, vecCol: String,
      cb: Array[Array[Double]], cbs: Array[Array[Array[Long]]],
      stateDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.ops.Similarity
    val spark = batch.sparkSession
    val cur = s"$stateDir/current"
    val idx =
      if (DirCommit.current(cur)) {
        val committed = spark.read.parquet(s"$cur/index")
        val fresh = batch.join(
          committed.select(col("neighbor_id").as(idCol)), Seq(idCol),
          "left_anti")
        Similarity.annIndexAppend(committed, fresh, idCol, vecCol, cb, cbs)
      } else Similarity.ivfadcIndex(batch, idCol, vecCol, cb, cbs)
    DirCommit.commit(cur)(stg => idx.write.mode("overwrite").parquet(s"$stg/index"))
  }

  /** Streaming incremental-aggregate maintenance —
    * [[graft.ops.IncrementalAgg]] wired into `foreachBatch`: per
    * micro-batch, aggregate ONLY the batch (map-side combined, ≤
    * |keys| rows out) and MERGE into the committed summary state, so
    * the live materialized view is exact after every epoch without
    * ever rescanning history (the q144/q145 steady state as a
    * continuously-maintained frame).
    *
    * Replay safety: unlike the dedup/ANN frames, an aggregate merge
    * is NOT naturally idempotent — re-merging a re-delivered epoch
    * would double-count — so the state carries an `_epoch` ledger
    * (the highest batchId merged, committed atomically WITH the
    * state). A replayed epoch compares its batchId against the
    * ledger and recommits nothing ([[epochCommit]]).
    *
    * Scale note: like the other frames, local-mode staging rewrites
    * the (keys-sized) state per epoch — the state is ≤ |distinct
    * keys| rows by construction, so the rewrite is summary-sized,
    * never history-sized. */
  def aggIngest(stream: DataFrame, keys: Seq[String], sumCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String], stateDir: String,
      checkpointDir: String, adoptUntaggedState: Boolean = false)
      : StreamingQuery =
    epochLedgeredQuery(stream, stateDir, checkpointDir,
      adoptUntaggedState, "aggIngest") { (batch, epochId) =>
      aggIngestBatch(batch, keys, sumCols, minCols, maxCols, stateDir,
        epochId)
    }

  /** The checkpoint-identity guard + tag-before-commit wrapper shared
    * by every `_epoch`-ledgered foreachBatch ingest ([[aggIngest]],
    * [[driftMonitor]]). State and checkpoint form a PAIR: the ledger
    * compares this query's batchIds against the state's history, and
    * batchIds are CHECKPOINT-scoped. A fresh (or wiped-and-recreated)
    * checkpoint restarts them at 0, so running it against existing
    * state would silently no-op epochs 0..N as "replays" and lose
    * data. Pin the checkpoint's IDENTITY — the streaming query id
    * persisted in its metadata file — not its path (a path survives
    * a wipe; the id does not), and refuse a mismatch BEFORE any
    * epoch can run. */
  private def epochLedgeredQuery(stream: DataFrame, stateDir: String,
      checkpointDir: String, adoptUntaggedState: Boolean, what: String)(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    import java.nio.file.{Files, Paths}
    val tag = Paths.get(s"$stateDir/_query_id")
    Files.createDirectories(tag.getParent)
    val meta = Paths.get(s"$checkpointDir/metadata")
    val ckptId: Option[String] =
      if (Files.exists(meta))
        "\"id\"\\s*:\\s*\"([0-9a-fA-F-]+)\"".r
          .findFirstMatchIn(Files.readString(meta)).map(_.group(1))
      else None
    if (Files.exists(tag)) {
      val prev = Files.readString(tag).trim
      require(ckptId.contains(prev),
        s"$what state at $stateDir was built under streaming " +
          s"query ${prev}; checkpoint $checkpointDir carries " +
          s"${ckptId.getOrElse("no metadata (fresh checkpoint)")} — " +
          "its batchIds would restart and the _epoch ledger would " +
          "silently DROP new epochs as replays. Use a fresh stateDir " +
          "with a fresh checkpoint.")
    } else if (DirCommit.current(s"$stateDir/current") &&
        Files.exists(Paths.get(s"$stateDir/current/_epoch"))) {
      // an _epoch ledger WITHOUT a tag means the state was built
      // outside this guard (the *Batch entry point directly, or a
      // crash in the pre-tag window of an old build): its batchId
      // lineage is unknown, so a fresh checkpoint would silently
      // no-op epochs 0..committedEpoch as replays (ADVICE r10 #4).
      // Refuse unless the caller explicitly vouches the checkpoint
      // matches.
      require(adoptUntaggedState,
        s"$what state at $stateDir carries an _epoch ledger but " +
          "no _query_id tag — its batchId lineage is unknown, and a " +
          "fresh checkpoint's batchIds restarting at 0 would be " +
          "silently dropped as replays. Pass adoptUntaggedState=true " +
          "only if this checkpoint is the one that built the state.")
    }
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // the tag is (re)written BEFORE the first epoch can commit:
        // by the time a batch fires, the checkpoint metadata file
        // exists, so a crash any time after this point leaves state
        // + tag consistent — no pre-tag window (ADVICE r10 #4)
        if (!Files.exists(tag)) {
          val id = "\"id\"\\s*:\\s*\"([0-9a-fA-F-]+)\"".r
            .findFirstMatchIn(Files.readString(meta)).map(_.group(1))
          Files.writeString(tag, id.getOrElse(
            throw new IllegalStateException(
              s"checkpoint $checkpointDir has no readable query id")))
        }
        perBatch(batch, epochId)
      }
      .start()
    if (!Files.exists(tag)) Files.writeString(tag, q.id.toString)
    q
  }

  /** Streaming DATA-QUALITY monitor — the declarative expectations
    * surface as a PER-EPOCH ledger (the dashboard feed;
    * `Expectations.requireClean` wired into an ingest is the ABORT
    * path, this is the observe path — production runs both): each
    * micro-batch's FULL rule report — every rule, violated or not,
    * a dashboard needs the zeros — lands as
    * `(epoch, rule_ord, rule, violations)` under
    * `monitorDir/epoch_N`. Each batch is judged on its own (rule
    * counts are not cumulative), so there is no state to ledger:
    * replay safety is the plain idempotent overwrite of the replayed
    * epoch's directory, and the cost per epoch is [[Expectations
    * .check]]'s plan — one fused scan for all row-local rules plus
    * the minimal keyed plan per set-wide rule. */
  def qualityMonitor(stream: DataFrame,
      rules: Seq[graft.ops.Expectations.Rule], checkpointDir: String,
      monitorDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        qualityMonitorBatch(batch, rules, monitorDir, epochId)
      }
      .start()

  /** One epoch of [[qualityMonitor]], separated so the batch path is
    * directly testable and driver-gateable. */
  def qualityMonitorBatch(batch: DataFrame,
      rules: Seq[graft.ops.Expectations.Rule], monitorDir: String,
      epochId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    graft.ops.Expectations.check(batch, rules)
      .withColumn("epoch", lit(epochId))
      .select(col("epoch"), col("rule_ord"), col("rule"),
        col("violations"))
      .coalesce(1) // ≤|rules| rows
      .write.mode("overwrite").parquet(s"$monitorDir/epoch_$epochId")
  }

  /** Streaming PROFILE monitor — the third leg of the monitor trio
    * (drift watches value DISTRIBUTIONS, quality watches RULES, this
    * watches the column-level SHAPE): each micro-batch's one-scan
    * [[graft.ops.Profile.profile]] diffs against the BLESSED
    * reference profile (`Profile.profileDiffProfiles` — status /
    * count pairs / null-safe min-max flags) and lands as the
    * per-epoch ledger under `monitorDir/epoch_N`. Batches are judged
    * ALONE (a batch whose null rate or value envelope jumps is the
    * anomaly signal; cumulative column stats are the steady
    * [[graft.ops.Profile.profileDiff]] batch call's job), so like
    * [[qualityMonitor]] there is no state — replay safety is the
    * idempotent epoch-dir overwrite. */
  def profileMonitor(stream: DataFrame, refProfile: DataFrame,
      cols: Seq[String], checkpointDir: String,
      monitorDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        profileMonitorBatch(batch, refProfile, cols, monitorDir,
          epochId)
      }
      .start()

  /** One epoch of [[profileMonitor]], separated so the batch path is
    * directly testable and driver-gateable. */
  def profileMonitorBatch(batch: DataFrame, refProfile: DataFrame,
      cols: Seq[String], monitorDir: String, epochId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    graft.ops.Profile.profileDiff(refProfile, batch, cols)
      .withColumn("epoch", lit(epochId))
      .select(col("epoch"), col("col_name"), col("status"),
        col("n_ref"), col("n_cur"), col("nonnull_ref"),
        col("nonnull_cur"), col("distinct_ref"), col("distinct_cur"),
        col("min_changed"), col("max_changed"))
      .coalesce(1) // ≤|cols| rows
      .write.mode("overwrite").parquet(s"$monitorDir/epoch_$epochId")
  }

  /** Streaming DRIFT MONITOR — the readStream twin of the
    * steady-state drift probe (`Profile.refProbeCounts`): per
    * micro-batch, the batch's values merge into a cumulative
    * per-value count state (exactly [[aggIngestBatch]] with the value
    * as the key and no agg columns — the same `_epoch` replay ledger
    * and atomic staging commit), then the exact four-statistic drift
    * report (KS/U/W₁/CvM) of EVERYTHING observed so far against the
    * frozen reference profile lands as four
    * `(epoch, stat, n1, n2, stat_micro)` rows under
    * `monitorDir/epoch_N`. The per-epoch overwrite is idempotent in
    * the only replay window the foreachBatch protocol produces (the
    * last uncommitted epoch — later epochs never precede a replayed
    * earlier one). State and monitor rows are ≤|values|-sized; the
    * reference sample itself is never rescanned. */
  def driftMonitor(stream: DataFrame, valueCol: String,
      refCounts: DataFrame, stateDir: String, checkpointDir: String,
      monitorDir: String, adoptUntaggedState: Boolean = false)
      : StreamingQuery =
    epochLedgeredQuery(stream, stateDir, checkpointDir,
      adoptUntaggedState, "driftMonitor") { (batch, epochId) =>
      driftMonitorBatch(batch, valueCol, refCounts, stateDir,
        monitorDir, epochId)
    }

  /** Streaming DISTINCT-COUNT maintenance — the sketch family's
    * readStream twin: an HLL register table is itself an incremental
    * aggregate (register-wise MAX), so each micro-batch's compiled
    * xxhash64 lanes ([[graft.ops.Sketches.hllRegistersFast]], the
    * production kernel) merge into the committed ≤2⁸-row state
    * through the same `_epoch`-ledgered [[aggIngestBatch]] path —
    * replay-safe, atomic, and byte-identical to rebuilding the
    * registers over everything seen (the max-merge algebra; spec-
    * pinned). State column: `max_rho` per bucket; read it back with
    * [[graft.ops.Sketches.hllEstimate]] after renaming to rho_max. */
  def hllIngest(stream: DataFrame, keyCol: String, stateDir: String,
      checkpointDir: String, adoptUntaggedState: Boolean = false)
      : StreamingQuery =
    epochLedgeredQuery(stream, stateDir, checkpointDir,
      adoptUntaggedState, "hllIngest") { (batch, epochId) =>
      hllIngestBatch(batch, keyCol, stateDir, epochId)
    }

  /** One epoch of [[hllIngest]]: the batch's pre-combined registers
    * (≤2⁸ rows) merge by MAX into the state. `portable = true` swaps
    * the compiled xxhash64 lane for the md5 lane
    * ([[graft.ops.Sketches.hllRegisters]]) — identical (bucket,
    * rho_max) layout and merge algebra, but DuckDB-replayable, so the
    * q279 gate can put THIS path (ledger, merge, commit) under the
    * oracle; the fast lane stays the production default (the q189
    * two-lane discipline). */
  def hllIngestBatch(batch: DataFrame, keyCol: String,
      stateDir: String, epochId: Long,
      portable: Boolean = false): Unit =
    aggIngestBatch(
      (if (portable) graft.ops.Sketches.hllRegisters(batch, keyCol)
       else graft.ops.Sketches.hllRegistersFast(batch, keyCol))
        .withColumnRenamed("rho_max", "rho"),
      Seq("bucket"), Nil, Nil, Seq("rho"), stateDir, epochId)

  /** One epoch of streaming PER-HOUR register maintenance (r15) —
    * the state side of the sliding-distinct dashboard
    * ([[graft.ops.Sketches.slidingDistinctStats]]): each batch's
    * (hour, bucket, rho) md5 lanes merge by MAX into the
    * `(hour, bucket)`-keyed state through the `_epoch` ledger, so
    * the trailing-window distinct counts read ≤ hours·2⁸ rows of
    * state instead of rescanning events
    * ([[graft.ops.Sketches.slidingDistinctFromRegisters]]). The flat
    * [[hllIngestBatch]] with a time dimension — same merge algebra,
    * same replay no-op. Portable md5 lane by construction (the gate
    * needs the oracle; a production xxhash twin would ride
    * hllRegistersByFast's lane the same way). */
  def slidingDistinctIngestBatch(batch: DataFrame, tsCol: String,
      keyCol: String, stateDir: String, epochId: Long): Unit =
    aggIngestBatch(
      graft.ops.Sketches.hourLaneRows(batch, tsCol, keyCol),
      Seq("__h", "bucket"), Nil, Nil, Seq("rho"), stateDir, epochId)

  /** Streaming FREQUENCY maintenance — [[hllIngest]]'s additive dual:
    * a Count-Min counter matrix merges by cell-wise SUM
    * ([[graft.ops.Sketches.cmsMerge]]), so each batch's pre-combined
    * ≤depth·width counters ride [[aggIngestBatch]]'s sum lane (the
    * DECIMAL(18,2) cast is exact for integer counts < 10¹⁶). State
    * column: `sum_cnt` per (r, pos); cast back to long for
    * [[graft.ops.Sketches.cmsEstimateFast]]. */
  def cmsIngest(stream: DataFrame, keyCol: String, stateDir: String,
      checkpointDir: String, depth: Int = 4, width: Int = 256,
      adoptUntaggedState: Boolean = false): StreamingQuery =
    epochLedgeredQuery(stream, stateDir, checkpointDir,
      adoptUntaggedState, "cmsIngest") { (batch, epochId) =>
      cmsIngestBatch(batch, keyCol, stateDir, epochId, depth, width)
    }

  /** One epoch of [[cmsIngest]]. `portable = true` swaps the xxhash64
    * counter lanes for the md5 lanes ([[graft.ops.Sketches
    * .cmsSketch]]) so the q280 gate replays this path in DuckDB —
    * same (r, pos, cnt) layout, same cell-wise-sum merge. */
  def cmsIngestBatch(batch: DataFrame, keyCol: String,
      stateDir: String, epochId: Long, depth: Int = 4,
      width: Int = 256, portable: Boolean = false): Unit =
    aggIngestBatch(
      if (portable) graft.ops.Sketches.cmsSketch(batch, keyCol, depth, width)
      else graft.ops.Sketches.cmsSketchFast(batch, keyCol, depth, width),
      Seq("r", "pos"), Seq("cnt"), Nil, Nil, stateDir, epochId)

  /** One epoch of [[driftMonitor]], separated like [[aggIngestBatch]]
    * so the batch path is directly testable. Emits the FULL drift
    * report — all four ordered statistics (KS/U/W₁/CvM) of
    * everything observed so far vs the frozen reference, off ONE
    * merged count frame and one shared prefix subplan
    * (`Profile.driftReport` over `Profile.refProbeCounts`; VERDICT
    * r12 #4 — the nightly monitor is no longer one statistic wide):
    * four `(epoch, stat, n1, n2, stat_micro)` rows per epoch. */
  def driftMonitorBatch(batch: DataFrame, valueCol: String,
      refCounts: DataFrame, stateDir: String, monitorDir: String,
      epochId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = batch.sparkSession
    aggIngestBatch(
      batch.select(col(valueCol)).filter(col(valueCol).isNotNull),
      Seq(valueCol), Nil, Nil, Nil, stateDir, epochId)
    val observed = spark.read.parquet(s"$stateDir/current/state")
      .select(col(valueCol), col("n").as("ref_n"))
    graft.ops.Profile
      .driftReport(graft.ops.Profile.refProbeCounts(refCounts, observed,
        valueCol), valueCol)
      .withColumn("epoch", lit(epochId))
      .select(col("epoch"), col("stat"), col("n1"), col("n2"),
        col("stat_micro"))
      .coalesce(1) // four rows
      .write.mode("overwrite").parquet(s"$monitorDir/epoch_$epochId")
  }

  /** Streaming k-ANONYMITY monitor (r16) — the governance wing's
    * epoch member: each micro-batch's quasi-identifier tuples merge
    * into the cumulative per-class count state (exactly
    * [[aggIngestBatch]] with the quasi tuple as the key — the same
    * `_epoch` replay ledger and atomic staging commit), then the
    * class-size histogram of EVERYTHING observed so far
    * ([[graft.ops.Profile.kAnonymityProfile]]'s row shape,
    * epoch-prefixed) lands under `monitorDir/epoch_N` — so a release
    * gate can watch the violating mass shrink toward zero as data
    * accumulates, without ever rescanning it. State is
    * ≤|classes|-sized; the monitor output ≤|distinct sizes| rows. */
  def kAnonymityMonitor(stream: DataFrame, quasiCols: Seq[String],
      k: Long, stateDir: String, checkpointDir: String,
      monitorDir: String, adoptUntaggedState: Boolean = false)
      : StreamingQuery =
    epochLedgeredQuery(stream, stateDir, checkpointDir,
      adoptUntaggedState, "kAnonymityMonitor") { (batch, epochId) =>
      kAnonymityMonitorBatch(batch, quasiCols, k, stateDir,
        monitorDir, epochId)
    }

  /** One epoch of [[kAnonymityMonitor]], separated like
    * [[driftMonitorBatch]] so the batch path is directly testable
    * and driver-gateable: quasi-class state merge, state read-back,
    * histogram, epoch parquet. */
  def kAnonymityMonitorBatch(batch: DataFrame, quasiCols: Seq[String],
      k: Long, stateDir: String, monitorDir: String,
      epochId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(quasiCols.nonEmpty && k > 1,
      "kAnonymityMonitorBatch: need quasi columns and k > 1")
    val spark = batch.sparkSession
    aggIngestBatch(batch.select(quasiCols.map(col): _*), quasiCols,
      Nil, Nil, Nil, stateDir, epochId)
    spark.read.parquet(s"$stateDir/current/state")
      .groupBy(col("n").as("class_size"))
      .agg(count(lit(1)).as("n_classes"))
      .select(lit(epochId).as("epoch"), col("class_size"),
        col("n_classes"),
        (col("class_size") * col("n_classes")).as("n_rows"),
        (col("class_size") < k).as("violates_k"))
      .coalesce(1) // ≤|distinct sizes| rows
      .write.mode("overwrite").parquet(s"$monitorDir/epoch_$epochId")
  }

  /** KEYED streaming drift monitor — [[driftMonitor]] per segment
    * (per-language, per-topic, per time bucket): the cumulative
    * state counts (group, value) pairs, and each epoch lands the
    * per-segment four-statistic report — one
    * `(epoch, stat, group, n1, n2, stat_micro)` row per
    * (statistic, two-sided segment) — against the frozen
    * PER-SEGMENT reference profile
    * ([[graft.ops.Profile.distCounts]] keyed); segments the state has
    * not seen yet (or that the reference lacks) drop per the keyed
    * contract. State is ≤|groups|·|values|-sized; the reference is
    * never rescanned. */
  def driftMonitorBy(stream: DataFrame, groupCol: String,
      valueCol: String, refCounts: DataFrame, stateDir: String,
      checkpointDir: String, monitorDir: String,
      adoptUntaggedState: Boolean = false): StreamingQuery =
    epochLedgeredQuery(stream, stateDir, checkpointDir,
      adoptUntaggedState, "driftMonitorBy") { (batch, epochId) =>
      driftMonitorByBatch(batch, groupCol, valueCol, refCounts,
        stateDir, monitorDir, epochId)
    }

  /** One epoch of [[driftMonitorBy]], separated like
    * [[driftMonitorBatch]] so the batch path is directly testable
    * and driver-gateable: state merge on the (group, value) key,
    * state read-back, keyed four-statistic report, epoch parquet. */
  def driftMonitorByBatch(batch: DataFrame, groupCol: String,
      valueCol: String, refCounts: DataFrame, stateDir: String,
      monitorDir: String, epochId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = batch.sparkSession
    aggIngestBatch(
      batch.select(col(groupCol), col(valueCol))
        .filter(col(valueCol).isNotNull),
      Seq(groupCol, valueCol), Nil, Nil, Nil, stateDir, epochId)
    val observed = spark.read.parquet(s"$stateDir/current/state")
      .select(col(groupCol), col(valueCol), col("n").as("ref_n"))
    graft.ops.Profile
      .driftReport(graft.ops.Profile.refProbeCounts(refCounts, observed,
        valueCol, Some(groupCol)), valueCol, Some(groupCol))
      .withColumn("epoch", lit(epochId))
      .select(col("epoch"), col("stat"), col(groupCol), col("n1"),
        col("n2"), col("stat_micro"))
      .coalesce(1) // ≤ 4·|groups| rows
      .write.mode("overwrite").parquet(s"$monitorDir/epoch_$epochId")
  }

  /** Streaming CUSUM monitor — the STATEFUL fourth leg of the monitor
    * family (drift = distributions, quality = rules, profile = column
    * shape, this = per-entity SEQUENTIAL mean-shift): each
    * micro-batch folds every entity's events through the two-sided
    * CUSUM recurrence CONTINUING from the entity's persisted carry
    * (`EventAnalytics.cusumCentiWithCarry`), lands the per-event raw
    * statistics + alarm flags under `monitorDir/epoch_N`, and commits
    * the new per-entity carries as the `_epoch`-ledgered state (the
    * aggIngest staging/commit discipline — replayed epochs no-op, so
    * a carry is never advanced twice). Entities untouched by a batch
    * keep their carry. State is ≤|entities| rows of three longs. */
  def cusumMonitor(stream: DataFrame, userCol: String, tsCol: String,
      idCol: String, valCol: String, targetCenti: Long,
      slackCenti: Long, hCenti: Long, stateDir: String,
      checkpointDir: String, monitorDir: String,
      adoptUntaggedState: Boolean = false): StreamingQuery =
    epochLedgeredQuery(stream, stateDir, checkpointDir,
      adoptUntaggedState, "cusumMonitor") { (batch, epochId) =>
      cusumMonitorBatch(batch, userCol, tsCol, idCol, valCol,
        targetCenti, slackCenti, hCenti, stateDir, monitorDir, epochId)
    }

  /** One epoch of [[cusumMonitor]], separated so the batch path is
    * directly testable and driver-gateable. */
  def cusumMonitorBatch(batch: DataFrame, userCol: String,
      tsCol: String, idCol: String, valCol: String, targetCenti: Long,
      slackCenti: Long, hCenti: Long, stateDir: String,
      monitorDir: String, epochId: Long): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit,
      max_by, struct}
    val spark = batch.sparkSession
    epochCommit(spark, stateDir, epochId) { committed =>
      val prior = committed.getOrElse(spark.range(0)
        .select(col("id").as("__u"), col("id").as("cp"), col("id").as("cn")))
      val withCarry = batch
        .join(prior.select(col("__u"), col("cp").as("__jp"),
            col("cn").as("__jn")),
          col(userCol) === col("__u"), "left")
        .withColumn("__cp0", coalesce(col("__jp"), lit(0L)))
        .withColumn("__cn0", coalesce(col("__jn"), lit(0L)))
      val folded = graft.ops.EventAnalytics.cusumCentiWithCarry(
        withCarry, userCol, tsCol, idCol, valCol, targetCenti,
        slackCenti, hCenti)
      folded
        .withColumn("epoch", lit(epochId))
        .select(col("epoch"), col(userCol), col("rn"), col("event_id"),
          col("s_pos_centi"), col("s_neg_centi"), col("alarm_up"),
          col("alarm_down"))
        .coalesce(1) // batch-sized ledger
        .write.mode("overwrite").parquet(s"$monitorDir/epoch_$epochId")
      // new carries: the last event's post-reset statistics per entity
      val lastRows = spark.read
        .parquet(s"$monitorDir/epoch_$epochId")
        .groupBy(col(userCol).as("__u"))
        .agg(max_by(struct(col("s_pos_centi").as("sp"),
          col("s_neg_centi").as("sn")), col("rn")).as("__last"))
        .select(col("__u"),
          expr(s"CASE WHEN __last.sp > ${hCenti}L THEN 0L " +
            "ELSE __last.sp END").as("cp"),
          expr(s"CASE WHEN __last.sn > ${hCenti}L THEN 0L " +
            "ELSE __last.sn END").as("cn"))
      val untouched = prior.join(lastRows.select(col("__u").as("__u2")),
        col("__u") === col("__u2"), "left_anti")
      untouched.unionByName(lastRows).coalesce(1)
    }
  }

  /** One epoch of [[aggIngest]], separated so the batch path is
    * directly testable and reusable by a non-streaming ingest loop.
    * No-op (by the `_epoch` ledger) when `epochId` was already
    * merged. */
  def aggIngestBatch(batch: DataFrame, keys: Seq[String],
      sumCols: Seq[String], minCols: Seq[String], maxCols: Seq[String],
      stateDir: String, epochId: Long): Unit = {
    import graft.ops.IncrementalAgg
    epochCommit(batch.sparkSession, stateDir, epochId) { committed =>
      val delta = IncrementalAgg.aggState(batch, keys, sumCols, minCols,
        maxCols)
      committed.fold(delta)(c =>
        IncrementalAgg.mergeState(Seq(c, delta), keys, sumCols, minCols, maxCols))
    }
  }

  /** The `_epoch` ledger of the state writers: unless `epochId` was
    * already merged into `<stateDir>/current` (a replayed epoch: no-op),
    * `next` turns the committed `state`, if any, into the new one, which
    * commits together with `epochId` as the ledger. */
  private def epochCommit(spark: SparkSession, stateDir: String,
      epochId: Long)(next: Option[DataFrame] => DataFrame): Unit = {
    import java.nio.file.{Files, Paths}
    val cur = s"$stateDir/current"
    val exists = DirCommit.current(cur)
    val ledger = Paths.get(s"$cur/_epoch")
    if (!(Files.exists(ledger) && epochId <= Files.readString(ledger).trim.toLong)) {
      val state = next(Option.when(exists)(spark.read.parquet(s"$cur/state")))
      DirCommit.commit(cur) { staging =>
        state.write.mode("overwrite").parquet(s"$staging/state")
        Files.writeString(Paths.get(s"$staging/_epoch"), epochId.toString)
      }
    }
  }

  /** Start the ingest. `validateBatch` is the fail-fast gate (reference
    * abort semantics: throwing fails the streaming query BEFORE any
    * mutation of the snapshot — e.g. pass
    * `b => require(Temporal.duplicateOpenVersions(b).isEmpty, ...)`).
    * Deltas are partial by nature, so the batch pipeline's deleted-row
    * audit intentionally does NOT apply here. */
  /** Streaming AS-OF enrich — the readStream twin of
    * `EventAnalytics.asofJoinSkewSafe`: per key, the latest quote
    * (ord, value) rides group state; each probe emits the carried
    * value at-or-before its ord. Events inside a micro-batch are
    * sorted by ord before folding (the GroupState iterator has no
    * order contract), and the carry is MONOTONE across batches — a
    * quote older than the carried one never replaces it, so an
    * epoch replay or a late quote cannot regress an already-correct
    * carry. A probe arriving before its matching quote (cross-batch
    * out-of-order) emits the carry as of its own batch — the
    * standard at-enrich-time semantics of a streaming lookup; the
    * batch op is the reconciliation path. Same ord contract as the
    * batch twin: quotes at even encodings sort before probes at
    * odd, quote ords unique per key. */
  def asofEnrich(events: org.apache.spark.sql.Dataset[AsofEvent])
      : org.apache.spark.sql.Dataset[AsofMatch] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[Option[(Long, Long)], AsofMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, evs: Iterator[AsofEvent],
         state: GroupState[Option[(Long, Long)]]) =>
          var carry = state.getOption.flatten
          val out = scala.collection.mutable.ArrayBuffer[AsofMatch]()
          evs.toSeq.sortBy(_.ord).foreach { e =>
            if (e.isQuote) {
              if (carry.forall(_._1 <= e.ord))
                carry = Some((e.ord, e.value))
            } else out += AsofMatch(key, e.pid, carry.map(_._2))
          }
          state.update(carry)
          out.iterator
      }
  }

  def scd2Ingest(stream: DataFrame, idCol: String, snapshotDir: String,
      checkpointDir: String,
      validateBatch: DataFrame => Unit = _ => ()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        scd2IngestBatch(batch, idCol, snapshotDir, validateBatch)
      }
      .start()

  /** One epoch of [[scd2Ingest]] — the exact foreachBatch body,
    * separated (the q241 discipline) so the batch path is directly
    * testable and driver-gateable: in-batch deterministic dedup,
    * fail-fast validation, SCD2 merge against the live snapshot,
    * atomic snapshot commit. */
  def scd2IngestBatch(batch: DataFrame, idCol: String,
      snapshotDir: String,
      validateBatch: DataFrame => Unit = _ => ()): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions.{col, max, struct}
    // in-batch dedup: at most one staged row per id per epoch.
    // DETERMINISTIC pick: dropDuplicates keeps whichever row a
    // partition delivers first, so a foreachBatch replay of the
    // same epoch could commit a different survivor for conflicting
    // same-id payloads. Taking max over the payload struct is a
    // total order on row content (lexicographic over the non-key
    // columns) — the same survivor wins on every replay regardless
    // of partitioning or scheduling.
    val others = batch.columns.filterNot(_ == idCol)
    val staged = batch.groupBy(col(idCol))
      .agg(max(struct(others.toSeq.map(col): _*)).as("__row"))
      .select(batch.columns.toSeq.map(c =>
        if (c == idCol) col(c) else col(s"__row.`$c`").as(c)): _*)
      .cache()
    try {
      validateBatch(staged)
      val merged =
        if (DirCommit.current(snapshotDir))
          Temporal.mergeScd2(spark.read.parquet(snapshotDir), staged, idCol)
        else staged.toDF()
      ImportPipeline.commitSnapshot(merged, snapshotDir)
    } finally staged.unpersist()
  }
}
