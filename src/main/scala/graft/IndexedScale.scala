package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Scale evidence for the materialized-index incremental dedup (the
  * round-8 flagship): with a FIXED incoming batch, grow the corpus by
  * `factor` and compare per-batch cost of
  *
  *   - `dedupIncrement`         — in-query form, re-tokenizes and
  *                                re-shingles the whole corpus per call
  *   - `dedupIncrementIndexed`  — reads a parquet-persisted
  *                                `corpusShingleIndex` + text keyset
  *
  * The index build is timed separately: it is the one-off (amortized
  * per ingest loop via `indexAppend`), not the per-batch cost. The
  * honest expectation is NOT that the indexed form is O(batch) — its
  * corpus side still scans the index — but that the per-batch
  * tokenize+shingle+explode recompute disappears, leaving a
  * column-pruned parquet scan feeding the shingle-keyed join.
  *
  * The same experiment runs for the ANN index (round-8 q98): a fixed
  * query set against a corpus grown by `factor`, comparing
  * `ivfadcTopK` (re-encodes the corpus per query batch) with
  * `ivfadcTopKIndexed` over a parquet-persisted (cell, codes) index.
  * Copies are verbatim vectors with offset ids — every copy lands in
  * the same coarse cell as its original, so cells and candidate lists
  * grow exactly linearly.
  *
  * Usage: IndexedScale [baseDir] [factor] [workDir]
  * Prints one JSON line per (form, scale) with median-of-reps seconds.
  */
object IndexedScale {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 8
    val work = if (args.length > 2) args(2) else "/tmp/graft_idxscale"
    val spark = Sessions.local(conf = Seq("spark.sql.shuffle.partitions" -> "32"))
    // peak execution memory per measured form (VERDICT r10 #6: the
    // increment family's 100 TB claim needs its MEMORY exponent too —
    // bounded by batch, not corpus)
    val meter = RunMeter.attach(spark)
    val docs = spark.read.parquet(s"$base/documents.parquet")
      .select(col("doc_id"), col("text"))

    // fixed fresh batch (disjoint vocab via prefix-free token tag), the
    // same 500 docs at every corpus scale
    val batch = docs.limit(500)
      .select((col("doc_id") + 900000000L).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "zz_$1").as("text"))
      .cache()
    batch.count()

    val reps = RunMeter.Reps
    for ((label, f) <- Seq("1x" -> 1, s"${factor}x" -> factor).distinct) {
      val dir = s"$work/$label"
      (0 until f).map { i =>
        docs.select((col("doc_id") + i.toLong * 10000000L).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1").as("text"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/corpus.parquet")
      val corpus = spark.read.parquet(s"$dir/corpus.parquet")

      val tb0 = System.nanoTime()
      Dedup.corpusShingleIndex(corpus, "doc_id", "text", 3)
        .write.mode("overwrite").parquet(s"$dir/index.parquet")
      Dedup.corpusTextKeys(corpus, "text")
        .write.mode("overwrite").parquet(s"$dir/keys.parquet")
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val idx = spark.read.parquet(s"$dir/index.parquet")
      val keys = spark.read.parquet(s"$dir/keys.parquet")

      val (tIn, nIn, mIn) = meter.medianOf(reps)(() =>
        Dedup.dedupIncrement(corpus, batch, "doc_id", "text", 3, 0.5))
      val (tIdx, nIdx, mIdx) = meter.medianOf(reps)(() =>
        Dedup.dedupIncrementIndexed(idx, keys, batch, "doc_id", "text", 3, 0.5))
      require(nIn == nIdx, s"forms disagree: $nIn vs $nIdx")
      println(String.format(java.util.Locale.ROOT,
        """{"scale":"%s","corpus_docs":%d,"batch_docs":500,"in_query_sec":%.3f,"indexed_sec":%.3f,"index_build_sec":%.3f,"in_query_peak_mb":%.1f,"indexed_peak_mb":%.1f,"in_query_task_peak_mb":%.1f,"indexed_task_peak_mb":%.1f,"rows":%d,"reps":%d}""",
        label, Long.box(corpus.count()), Double.box(tIn), Double.box(tIdx),
        Double.box(buildSec), Double.box(mIn.stagePeakMem / 1e6),
        Double.box(mIdx.stagePeakMem / 1e6), Double.box(mIn.maxTaskPeak / 1e6),
        Double.box(mIdx.maxTaskPeak / 1e6),
        Long.box(nIn), Int.box(reps)))

      // Bloom pre-filter row: the batch is 100% fresh (disjoint
      // vocab), so the bitmap proves every row absent and the exact
      // arm's keyset anti-join sees an empty left side — the ideal
      // showcase of what the filter buys as the keyset grows. 2^20
      // bits (128 KiB) keeps ≥26 bits/key at the 8x keyset.
      val tbb0 = System.nanoTime()
      val words = Dedup.bloomBuild(keys, "text", 1 << 20, 5)
      val bloomBuildSec = (System.nanoTime() - tbb0) / 1e9
      val (tFull, nFull, _) = meter.medianOf(reps)(() =>
        Dedup.dedupIncrementFullIndexed(idx, keys, batch,
          "doc_id", "text", 3, 0.5))
      val (tBloom, nBloom, _) = meter.medianOf(reps)(() =>
        Dedup.dedupIncrementFullIndexedBloom(idx, keys, words, batch,
          "doc_id", "text", 3, 0.5, 1 << 20, 5))
      require(nFull == nBloom, s"bloom form disagrees: $nFull vs $nBloom")
      // the scale-relevant number: how much of the batch still reaches
      // the keyset anti-join (the exact arm's shuffle input once the
      // keyset outgrows broadcast) — the wall-clock delta at local
      // scales is fixed per-job overhead, not join cost
      val nPos = batch.filter(
        Dedup.bloomMightContain(words, col("text"), 1 << 20, 5)).count()
      println(String.format(java.util.Locale.ROOT,
        """{"bloom_scale":"%s","corpus_docs":%d,"batch_docs":500,"full_indexed_sec":%.3f,"bloom_sec":%.3f,"bloom_build_sec":%.3f,"antijoin_rows_plain":500,"antijoin_rows_bloom":%d,"rows":%d,"reps":%d}""",
        label, Long.box(corpus.count()), Double.box(tFull), Double.box(tBloom),
        Double.box(bloomBuildSec), Long.box(nPos), Long.box(nFull),
        Int.box(reps)))
    }

    // PEAK-MEMORY batch sweep (VERDICT r10 #6): the per-scale loop
    // above varies the CORPUS under a fixed batch (peak must stay
    // flat); this block fixes the corpus at the grown scale and
    // sweeps the BATCH (peak may grow with it). Together they bound
    // executor memory at 100 TB by the ingest batch, not history.
    locally {
      val bigDir = s"$work/${factor}x"
      val idx = spark.read.parquet(s"$bigDir/index.parquet")
      val keys = spark.read.parquet(s"$bigDir/keys.parquet")
      val nCorpus = spark.read.parquet(s"$bigDir/corpus.parquet").count()
      for (bsz <- Seq(250, 1000, 4000)) {
        val b = docs.limit(bsz)
          .select((col("doc_id") + 900000000L).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "zz_$1").as("text"))
          .localCheckpoint()
        b.count()
        val (t, n, m) = meter.medianOf(reps)(() =>
          Dedup.dedupIncrementIndexed(idx, keys, b, "doc_id", "text", 3, 0.5))
        println(String.format(java.util.Locale.ROOT,
          """{"peak_sweep_batch":%d,"corpus_docs":%d,"sec":%.3f,"peak_mb":%.1f,"task_peak_mb":%.1f,"rows":%d,"reps":%d}""",
          Int.box(bsz), Long.box(nCorpus), Double.box(t),
          Double.box(m.stagePeakMem / 1e6), Double.box(m.maxTaskPeak / 1e6),
          Long.box(n), Int.box(reps)))
      }
    }

    // LARGE-batch probe over bucketed vs plain index layout: AQE
    // broadcasts the 500-doc batch above, so bucketing is invisible
    // there; a batch big enough to force a shuffled join is where the
    // bucketed layout pays (VERDICT r9 #5 — corpus-side shuffle bytes
    // drop to ~0, total shuffle ∝ batch).
    locally {
      // broadcast OFF for this block: at local scales AQE broadcasts
      // the shingle join either way and the two layouts measure
      // identically — the regime the bucketed layout exists for is a
      // corpus index too large to broadcast, which this simulates
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for ((label, f) <- Seq("1x" -> 1, s"${factor}x" -> factor).distinct) {
        val dir = s"$work/$label"
        val corpus = spark.read.parquet(s"$dir/corpus.parquet")
        val keys = spark.read.parquet(s"$dir/keys.parquet")
        val plainIdx = spark.read.parquet(s"$dir/index.parquet")
        graft.sources.BucketedIndex.write(plainIdx, s"$dir/index_bkt",
          "shingle", 32)
        val bktIdx = graft.sources.BucketedIndex.read(spark, s"$dir/index_bkt",
          s"graft_idxscale_bkt_$label", "shingle", 32)
        // large fresh batch: 30% of the corpus, disjoint vocab — far
        // past any broadcast threshold at the grown scales
        val big = corpus.filter(col("doc_id") % 10 < 3)
          .select((col("doc_id") + 900000000L).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "yy_$1").as("text"))
          .localCheckpoint()
        val nBig = big.count()
        val (tP, nP, mP) = meter.medianOf(reps)(() =>
          Dedup.dedupIncrementIndexed(plainIdx, keys, big,
            "doc_id", "text", 3, 0.5))
        val (tB, nB, mB) = meter.medianOf(reps)(() =>
          Dedup.dedupIncrementIndexed(bktIdx, keys, big,
            "doc_id", "text", 3, 0.5))
        require(nP == nB, s"bucketed probe disagrees: $nP vs $nB")
        println(String.format(java.util.Locale.ROOT,
          """{"bucketed_probe_scale":"%s","corpus_docs":%d,"batch_docs":%d,"plain_sec":%.3f,"bucketed_sec":%.3f,"plain_shuffle_mb":%.1f,"bucketed_shuffle_mb":%.1f,"rows":%d,"reps":%d}""",
          label, Long.box(corpus.count()), Long.box(nBig), Double.box(tP),
          Double.box(tB), Double.box(mP.shuffleBytes / 1e6 / reps),
          Double.box(mB.shuffleBytes / 1e6 / reps), Long.box(nP),
          Int.box(reps)))
      }
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }

    // ANN: fixed 5-query probe against a factor-grown vector corpus
    import graft.ops.Similarity
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 5).cache()
    queries.count()
    // codebooks are FROZEN from the base corpus (the production rule:
    // growing data does not retrain the quantizer mid-flight)
    val cb = Similarity.coarseCodebook(emb, "vec_id", "embedding", 8)
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, ksub = 8)
    for ((label, f) <- Seq("1x" -> 1, s"${factor}x" -> factor).distinct) {
      val dir = s"$work/ann_$label"
      (0 until f).map { i =>
        emb.select((col("vec_id") + i.toLong * 10000000L).as("vec_id"),
          col("embedding"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/corpus.parquet")
      val corpus = spark.read.parquet(s"$dir/corpus.parquet")
      val tb0 = System.nanoTime()
      Similarity.ivfadcIndex(corpus, "vec_id", "embedding", cb, cbs)
        .write.mode("overwrite").parquet(s"$dir/index.parquet")
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val idx = spark.read.parquet(s"$dir/index.parquet")
      val (tDir, nDir, _) = meter.medianOf(reps)(() =>
        Similarity.ivfadcTopKIndexed(
          Similarity.ivfadcIndex(corpus, "vec_id", "embedding", cb, cbs),
          queries, "vec_id", "embedding", 10, cb, cbs, 2))
      val (tIdx, nIdx, _) = meter.medianOf(reps)(() =>
        Similarity.ivfadcTopKIndexed(idx, queries, "vec_id", "embedding",
          10, cb, cbs, 2))
      require(nDir == nIdx, s"ANN forms disagree: $nDir vs $nIdx")
      println(String.format(java.util.Locale.ROOT,
        """{"ann_scale":"%s","corpus_vecs":%d,"direct_sec":%.3f,"indexed_sec":%.3f,"index_build_sec":%.3f,"rows":%d,"reps":%d}""",
        label, Long.box(corpus.count()), Double.box(tDir), Double.box(tIdx),
        Double.box(buildSec), Long.box(nDir), Int.box(reps)))
    }
    spark.stop()
  }
}
