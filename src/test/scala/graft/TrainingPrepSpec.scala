package graft

import org.apache.spark.sql.functions._
import graft.ops.TrainingPrep

/** Training-run prep operators: packing (distributed prefix sum vs a
  * sequential reference), contamination (planted leak), PII scrub
  * (pattern interaction). */
class TrainingPrepSpec extends SparkSuite {
  import spark.implicits._

  test("targetEncode: smoothing pulls toward the corpus prior; " +
      "LOO excludes the row's own label; singleton null") {
    // cat a: 3 pos of 4; cat b: 0 of 2; cat c: singleton pos
    val rows = Seq(
      (1L, "a", true), (2L, "a", true), (3L, "a", true),
      (4L, "a", false), (5L, "b", false), (6L, "b", false),
      (7L, "c", true))
      .toDF("id", "cat", "y")
    val gm = 1000000L * 4 / 7 // corpus prior, floored once
    val st = TrainingPrep.targetEncodeStats(rows, "cat", "y", m = 2)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(st("a") == (1000000L * 3 + 2 * gm) / 6)
    assert(st("b") == (2 * gm) / 4)  // zero positives still shrink up
    assert(st("c") == (1000000L + 2 * gm) / 3)
    val loo = TrainingPrep.targetEncodeLoo(rows, "id", "cat", "y")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(loo(1L).contains(1000000L * 2 / 3)) // own pos excluded
    assert(loo(4L).contains(1000000L))         // 3 pos of remaining 3
    assert(loo(5L).contains(0L))
    assert(loo(7L).isEmpty)                    // singleton -> null
  }

  test("groupFolds: an entity never spans folds, append-stable, " +
      "all folds populated at scale") {
    val rows = (1L to 2000L).map(i => (i % 97, i)).toDF("ent", "row_id")
    val folded = TrainingPrep.groupFolds(rows, "ent", 5)
    // one fold per entity, by construction of the per-entity lane
    assert(folded.groupBy("ent")
      .agg(countDistinct("fold").as("nf"))
      .filter(col("nf") > 1).count() == 0)
    // appending rows never moves an entity's fold
    val sub = TrainingPrep.groupFolds(rows.filter(col("row_id") <= 500),
      "ent", 5)
    val full = folded.select("ent", "fold").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sub.select("ent", "fold").distinct().collect()
      .forall(r => full(r.getLong(0)) == r.getLong(1)))
    // 97 entities over 5 hash folds: every fold gets members
    assert(folded.select("fold").distinct().count() == 5)
  }

  test("packByTokenBudget equals the sequential prefix sum, any partitioning") {
    // uneven token counts; 13 shuffle partitions give many small
    // range partitions, so the offset pass actually matters
    val docs = (1L to 200L).map(i => (i, ("w " * (i % 17 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val packed = withConf(ShufflePartitions -> "13") {
      TrainingPrep.packByTokenBudget(docs, "doc_id", "text",
          budgetTokens = 40)
        .orderBy($"doc_id")
        .as[(Long, Long, Long)].collect().toSeq
    }
    // sequential reference
    var cum = 0L
    val expected = (1L to 200L).map { i =>
      val n = i % 17 + 1
      val shard = cum / 40
      cum += n
      (i, n, shard)
    }
    assert(packed == expected)
    // shards are contiguous and near-budget: every shard's token total
    // is < budget + its last doc's size (greedy relaxation bound)
    val byShard = expected.groupBy(_._3).values
    byShard.foreach { docsInShard =>
      val total = docsInShard.map(_._2).sum
      assert(total < 40 + docsInShard.map(_._2).max)
    }
  }

  test("packSequences: bin spans exact vs brute force, straddlers " +
      "split, exact-fill boundary; budgetSelect keeps the straddler " +
      "whole and nothing after") {
    // token counts chosen to hit: exact fill (10), multi-bin
    // straddle (25 spans 3 bins at L=10), and 1-token slivers
    val toks = Seq(3L, 7L, 10L, 25L, 1L, 4L, 12L, 1L)
    val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("ord", "t").repartition(5)
    val packed = TrainingPrep.packSequences(df, "ord", "t", capacity = 10L)
      .orderBy($"ord")
      .select("ord", "t", "cum", "start_off", "bin_first", "bin_last",
        "n_bins")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // brute-force reference
    var cum = 0L
    val expected = toks.zipWithIndex.map { case (t, i) =>
      val start = cum; cum += t
      (i.toLong, t, cum, start, start / 10, (cum - 1) / 10,
        (cum - 1) / 10 - start / 10 + 1)
    }
    assert(packed == expected)
    // doc 0+1 exactly fill bin 0 (3+7=10): doc 1 must NOT leak into
    // bin 1; doc 3 (25 tokens at offset 20) spans bins 2..4
    assert(expected(1)._6 == 0L && expected(1)._7 == 1L)
    assert(expected(3)._5 == 2L && expected(3)._6 == 4L &&
      expected(3)._7 == 3L)
    // budgetSelect: budget 20 → cum after doc 2 is 20 (= budget, doc
    // 3 starts AT 20 so it is dropped); budget 21 → doc 3 straddles
    // (starts at 20 < 21) and is kept WHOLE, docs 4+ dropped
    def kept(b: Long) = TrainingPrep.budgetSelect(df, "ord", "t", b)
      .select("ord").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept(20) == Seq(0L, 1L, 2L))
    assert(kept(21) == Seq(0L, 1L, 2L, 3L))
    assert(kept(1) == Seq(0L))
  }

  test("chunkByTokens: overlap windows, short tail, tiny doc = one window") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b")                                     // 2 tokens < chunk
    ).toDF("doc_id", "text")
    val got = TrainingPrep.chunkByTokens(docs, "doc_id", "text",
        chunkTokens = 4, strideTokens = 3)
      .as[(Long, Int, Int, String)].collect().toSeq.sorted
    assert(got == Seq(
      (1L, 0, 4, "t1 t2 t3 t4"),
      (1L, 1, 4, "t4 t5 t6 t7"),    // 1-token overlap (stride 3)
      (1L, 2, 4, "t7 t8 t9 t10"),
      (1L, 3, 1, "t10"),            // short tail window
      (2L, 0, 2, "a b")))           // doc smaller than one chunk
    // every token of doc 1 is covered by at least one window
    val covered = got.filter(_._1 == 1L).flatMap(_._4.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
    // stride == chunk (no overlap): chunks concatenated in chunk_id
    // order reconstruct the document exactly, for any text
    val docs0 = spark.read.parquet(s"$sf0001/documents.parquet")
    val rebuilt = TrainingPrep.chunkByTokens(docs0, "doc_id", "text",
        chunkTokens = 7, strideTokens = 7)
      .groupBy($"doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(
        struct($"chunk_id", $"chunk_text"))).getField("chunk_text"))
        .as("rebuilt"))
    val mismatches = docs0
      .select($"doc_id", concat_ws(" ",
        split(trim($"text"), "\\s+")).as("norm"))
      .join(rebuilt, "doc_id")
      .filter($"norm" =!= $"rebuilt")
      .count()
    assert(mismatches == 0)
    intercept[IllegalArgumentException] {
      TrainingPrep.chunkByTokens(docs, "doc_id", "text", 4, 5) // stride > chunk
    }
  }

  test("gopherRepetitionReport: each rule fails independently, micros exact") {
    val good = ("ok " + (1 to 30).map(i => s"w$i").mkString(" ")).trim // 31 distinct tokens
    val docs = Seq(
      (1L, good),                                     // passes all three rules
      (2L, (1 to 10).map(i => s"u$i").mkString(" ")), // 10 tokens < 20: too short
      (3L, ("a " * 40).trim),                         // 1 distinct / 40: repetitive AND top-heavy
      (4L, ("b " * 20 + (1 to 20).map(i => s"v$i").mkString(" ")).trim)
        // 40 tokens, 21 distinct (0.525 ok) but top token b = 20/40 = 0.5 > 0.125
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .gopherRepetitionReport(docs, "doc_id", "text")
      .as[(Long, Int, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(got.map(r => r._1 -> r._5).toMap ==
      Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
    // exact micro arithmetic on the planted repetitive doc
    val d3 = got.find(_._1 == 3L).get
    assert(d3._2 == 40 && d3._3 == 25000L && d3._4 == 1000000L)
  }

  test("stratifiedModSample: per-stratum rates, append-stable, default rate") {
    val docs = (1L to 300L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "es" else "other"))
      .toDF("doc_id", "lang")
    val denoms = Map("en" -> 2, "es" -> 5)
    val kept = TrainingPrep.stratifiedModSample(docs, "lang", "doc_id",
        denoms, defaultDenom = 10)
      .as[(Long, String)].collect().toSeq
    // verdict is exactly the per-row rule
    val expected = (1L to 300L).flatMap { i =>
      val lang = if (i % 3 == 0) "en" else if (i % 3 == 1) "es" else "other"
      val d = denoms.getOrElse(lang, 10)
      if (i % d == 0) Some((i, lang)) else None
    }
    assert(kept.sorted == expected.sorted)
    // append-stability: adding rows never changes an old row's verdict
    val more = (1L to 600L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "es" else "other"))
      .toDF("doc_id", "lang")
    val keptMore = TrainingPrep.stratifiedModSample(more, "lang", "doc_id",
        denoms, defaultDenom = 10)
      .as[(Long, String)].collect().toSeq.filter(_._1 <= 300L)
    assert(keptMore.sorted == kept.sorted)
    intercept[IllegalArgumentException] {
      TrainingPrep.stratifiedModSample(docs, "lang", "doc_id",
        Map("en" -> 0), defaultDenom = 10)
    }
  }

  test("capPerSource: quota honored, priority order, deterministic ties") {
    // src A: 5 docs (cap 3 keeps the 3 longest); src B: 2 docs (under
    // quota, all kept); equal priorities break by lowest id
    val docs = Seq(
      (1L, "A", 100), (2L, "A", 300), (3L, "A", 300), (4L, "A", 200), (5L, "A", 50),
      (6L, "B", 10), (7L, "B", 20)
    ).toDF("doc_id", "source", "n_chars")
    val kept = TrainingPrep.capPerSource(docs, "source", "doc_id",
        col("n_chars"), maxPerSource = 3)
      .select($"doc_id", $"source", $"src_rank")
      .as[(Long, String, Int)].collect().toSeq.sortBy(_._1)
    // A keeps 2 (300, rank 1 — id tiebreak), 3 (300, rank 2), 4 (200,
    // rank 3); drops 1 and 5. B keeps both.
    assert(kept == Seq((2L, "A", 1), (3L, "A", 2), (4L, "A", 3),
      (6L, "B", 2), (7L, "B", 1)))
    intercept[IllegalArgumentException] {
      TrainingPrep.capPerSource(docs, "source", "doc_id",
        col("n_chars"), maxPerSource = 0)
    }
  }

  test("shuffleShards: reproducible permutation, salt-sensitive, balanced") {
    val docs = (1L to 400L).toDF("doc_id")
    val a = TrainingPrep.shuffleShards(docs, "doc_id", nShards = 8)
      .as[(Long, Int, Int)].collect().toSeq.sorted
    // rerun-stable (the property a resumable training job needs)
    val b = TrainingPrep.shuffleShards(docs, "doc_id", nShards = 8)
      .as[(Long, Int, Int)].collect().toSeq.sorted
    assert(a == b)
    // every id appears once; within each shard pos is exactly 1..n
    assert(a.map(_._1) == (1L to 400L))
    a.groupBy(_._2).values.foreach { rows =>
      assert(rows.map(_._3).sorted == (1 to rows.length))
    }
    // all shards populated and roughly balanced (md5 uniformity: 400
    // over 8 shards — allow a generous 2x band)
    val sizes = a.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.keySet == (0 until 8).toSet)
    assert(sizes.values.min >= 25 && sizes.values.max <= 100, sizes)
    // a different salt is an independent shuffle, not a relabeling
    val c = TrainingPrep.shuffleShards(docs, "doc_id", nShards = 8,
      salt = "other").as[(Long, Int, Int)].collect().toSeq.sorted
    assert(c != a)
    // an idCol that collides with the internal/output columns is a
    // loud argument error, not an ambiguous-column plan failure
    Seq("__key", "shard", "pos").foreach { bad =>
      val ex = intercept[IllegalArgumentException] {
        TrainingPrep.shuffleShards(docs.withColumnRenamed("doc_id", bad),
          bad, nShards = 8)
      }
      assert(ex.getMessage.contains("collides"), ex.getMessage)
    }
  }

  test("contamination finds a planted 8-gram leak and only that") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val docs = Seq(
      (1L, s"train doc one with the secret phrase $shared inside it"),
      (3L, "another train doc with completely unrelated words here ok"),
      // holdout 10: leaked — contains the train 8-gram
      (10L, s"the eval example quoting $shared verbatim plus tail"),
      // holdout 20: clean
      (20L, "a clean holdout document with no overlap whatsoever at all present")
    ).toDF("doc_id", "text")
    val rep = TrainingPrep.contamination(docs, "doc_id", "text",
        k = 8, holdoutDenom = 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rep.map(_._1) == Seq(10L))
    val (_, nSh, nShared, ratioMicro) = rep.head
    assert(nShared == 1) // exactly the planted 8-gram window
    assert(ratioMicro == 1000000L / nSh)
  }

  test("scrubPii: emails before digit runs; counts consistent") {
    val df = Seq(
      ("bob12345678@example.com called 0201234567 twice", 1, 1),
      ("no pii here", 0, 0),
      ("ids 123456 and 1234567", 0, 1) // 6 digits below threshold
    ).toDF("text", "e", "d")
    val got = df.select(
      TrainingPrep.scrubPii($"text").as("s"),
      TrainingPrep.piiCounts($"text").head._2.as("ne"),
      TrainingPrep.piiCounts($"text")(1)._2.as("nd"),
      $"e", $"d").collect()
    got.foreach { r =>
      assert(r.getInt(1) == r.getInt(3), s"email count in ${r.getString(0)}")
      assert(r.getInt(2) == r.getInt(4), s"digit count in ${r.getString(0)}")
    }
    val scrubbed = got.map(_.getString(0)).toSeq
    // the email's digits are consumed by [EMAIL], not double-scrubbed
    assert(scrubbed.head == "[EMAIL] called [NUM] twice")
    assert(scrubbed(2) == "ids 123456 and [NUM]")
  }

  test("temperatureQuotas: hand-computed weights and exact integer quotas per alpha") {
    // 100 / 400 / 2500 docs across three sources
    val df = ((0 until 100).map(i => (i.toLong, "a")) ++
        (0 until 400).map(i => (1000L + i, "b")) ++
        (0 until 2500).map(i => (10000L + i, "c")))
      .toDF("doc_id", "source")
    def quotasAt(aq: Int): Map[String, (Long, Long, Long)] =
      TrainingPrep.temperatureQuotas(df, "source", targetN = 100L, aq)
        .as[(String, Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // α=1/2: sqrt weights 10/20/50 exactly -> milli 10000/20000/50000,
    // tot 80000 -> quotas (100*w) div tot = 12/25/62
    assert(quotasAt(2) == Map(
      "a" -> ((100L, 10000L, 12L)),
      "b" -> ((400L, 20000L, 25L)),
      "c" -> ((2500L, 50000L, 62L))))
    // α=1: natural proportions 100/400/2500 of 3000
    assert(quotasAt(4).view.mapValues(_._3).toMap ==
      Map("a" -> 3L, "b" -> 13L, "c" -> 83L))
    // α=1/4: flattest mix — tail source 'a' gains share vs α=1/2
    val q1 = quotasAt(1).view.mapValues(_._3).toMap
    assert(q1("a") > 12L && q1("c") < 62L, s"α=1/4 quotas: $q1")
    // quotas never exceed the target in total (floor rounding)
    Seq(1, 2, 3, 4).foreach { aq =>
      assert(quotasAt(aq).values.map(_._3).sum <= 100L)
    }
  }

  test("temperatureQuotas: overflowing targetN·w_milli fails loudly, not wrongly") {
    // ANSI-off long multiply wraps silently, so the operator must
    // refuse the product rather than emit a wrapped (wrong, possibly
    // negative) quota. 10000 docs at α=1 -> w_milli = 10_000_000;
    // targetN = 2^60 makes targetN·w_milli ≈ 1.2e25 >> 2^63.
    val df = (0 until 10000).map(i => (i.toLong, "big")).toDF("doc_id", "source")
    val e = intercept[Exception] {
      TrainingPrep.temperatureQuotas(df, "source",
        targetN = 1L << 60, alphaQuarters = 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("overflows exact 63-bit quota")),
      s"expected the overflow guard, got: ${messages(e)}")
    // the same data passes with a sane target, quota = full corpus share
    val ok = TrainingPrep.temperatureQuotas(df, "source",
        targetN = 100L, alphaQuarters = 4)
      .as[(String, Long, Long, Long)].collect()
    assert(ok.toSeq == Seq(("big", 10000L, 10000000L, 100L)))
  }

  test("temperatureSample: draws min(quota, n) per source, rerun-stable, salt-sensitive") {
    val df = ((0 until 10).map(i => (i.toLong, "a")) ++
        (0 until 1000).map(i => (1000L + i, "b")))
      .toDF("doc_id", "source")
    def draw(salt: String) = TrainingPrep.temperatureSample(df, "source",
        "doc_id", targetN = 50L, alphaQuarters = 2, salt)
      .select($"doc_id", $"source", $"mix_rank")
      .as[(Long, String, Int)].collect().toSeq.sortBy(_._1)
    val a = draw("graft")
    assert(a == draw("graft")) // deterministic rerun
    // quotas: sqrt 3.1622->3162, sqrt(1000)=31.6227->31622, tot 34784;
    // a: (50*3162) div 34784 = 4; b: (50*31622) div 34784 = 45
    val bySrc = a.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc == Map("a" -> 4, "b" -> 45), s"per-source draw: $bySrc")
    // mix_rank is 1..quota within each source
    assert(a.filter(_._2 == "a").map(_._3).sorted == (1 to 4))
    // a different salt draws a different mix (overwhelmingly likely
    // with 45 of 1000 picked)
    assert(draw("other").map(_._1) != a.map(_._1))
  }

  test("uniMaxQuotas: waterfilling — small sources capped, budget rolls over") {
    val df = ((0 until 5).map(i => (i.toLong, "a")) ++
        (0 until 50).map(i => (100L + i, "b")) ++
        (0 until 1000).map(i => (10000L + i, "c")))
      .toDF("doc_id", "source")
    def q(targetN: Long, e: Long): Map[String, Long] =
      TrainingPrep.uniMaxQuotas(df, "source", targetN, e)
        .as[(String, Long, Long)].collect().map(t => t._1 -> t._3).toMap
    // targetN=300, E=1: a takes its whole 5 (share was 100), the
    // unused 95 rolls to b (takes its 50) and then c (takes 245)
    assert(q(300L, 1L) == Map("a" -> 5L, "b" -> 50L, "c" -> 245L))
    // E=2: caps double -> a=10, b=100, c soaks the remaining 190
    assert(q(300L, 2L) == Map("a" -> 10L, "b" -> 100L, "c" -> 190L))
    // budget below every cap: pure even split (floor'd smallest-first)
    assert(q(9L, 1L) == Map("a" -> 3L, "b" -> 3L, "c" -> 3L))
  }

  test("uniMaxQuotas: NULL sources excluded from the budget; non-string source rejected") {
    val df = Seq((1L, Some("a")), (2L, Some("a")), (3L, Some("a")),
        (4L, None), (5L, None))
      .toDF("doc_id", "source")
    // the two NULL-source rows must not absorb budget the sample's
    // equi-join could never draw
    val q = TrainingPrep.uniMaxQuotas(df, "source", targetN = 10L)
      .as[(String, Long, Long)].collect()
    assert(q.toSeq == Seq(("a", 3L, 3L)))
    val drawn = TrainingPrep.uniMaxSample(df, "source", "doc_id", 10L)
    assert(drawn.count() == 3)
    intercept[IllegalArgumentException] {
      TrainingPrep.uniMaxQuotas(
        df.withColumn("source", lit(7)), "source", targetN = 10L)
    }
  }

  test("uniMaxSample: draw complete at E=1, balanced split, deterministic") {
    val df = (Seq("a", "b", "c").zipWithIndex.flatMap { case (s, si) =>
        (0 until 100).map(i => (si * 1000L + i, s))
      }).toDF("doc_id", "source")
    def draw() = TrainingPrep.uniMaxSample(df, "source", "doc_id",
        targetN = 150L, maxEpochs = 1L)
      .select($"doc_id", $"source", $"mix_rank")
      .as[(Long, String, Int)].collect().toSeq.sortBy(_._1)
    val a = draw()
    assert(a == draw())
    // balanced sources, even budget: 50 each
    val bySrc = a.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc == Map("a" -> 50, "b" -> 50, "c" -> 50))
    assert(a.groupBy(_._2).values.forall(_.map(_._3).sorted == (1 to 50)))
  }

  test("c4LineFilter: each rule fires independently; page rules drop whole docs") {
    import graft.ops.LineClean
    val docs = Seq(
      // doc 1: mix of keeps and per-rule drops
      (1L, Seq(
        "this line is kept.",          // keep
        "too short.",                  // drop: 2 words < 3
        "no terminal punctuation here",// drop: no . ! ? "
        "",                            // drop: blank
        "contains the Lorem Ipsum boilerplate.", // drop: blocklist (case-insens.)
        "ends with a question mark?",  // keep
        "ends with a quote \"").mkString("\n")), // keep
      // doc 2: only one surviving line -> dropped by minLines=2
      (2L, "a single good line survives.\nbad line"),
      // doc 3: fine lines but a brace -> whole page dropped
      (3L, "this would be kept one.\nthis would be kept two.\n{"),
      // doc 4: exactly minLines survivors
      (4L, "alpha beta gamma.\ndelta epsilon zeta!")
    ).toDF("doc_id", "text")
    val out = LineClean.c4LineFilter(docs, "doc_id", "text",
        minWords = 3, minLines = 2, blocklist = Seq("lorem ipsum"))
      .orderBy($"doc_id").as[(Long, String, Int)].collect().toSeq
    assert(out == Seq(
      (1L, Seq("this line is kept.", "ends with a question mark?",
        "ends with a quote \"").mkString("\n"), 3),
      (4L, "alpha beta gamma.\ndelta epsilon zeta!", 2)))
  }

  test("corpusLineDedup: keep-first by (doc,pos); agg form ≡ window form") {
    import graft.ops.LineClean
    val docs = Seq(
      (10L, "shared header\nunique ten\nshared footer"),
      (11L, "shared header\nunique eleven\nshared footer"),
      // doc whose every line already occurred -> absent from output
      (12L, "shared header\nshared footer"),
      // within-doc repeat: second occurrence dropped too
      (13L, "twice\ntwice\nunique thirteen")
    ).toDF("doc_id", "text")
    val out = LineClean.corpusLineDedup(docs, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, String, Int)].collect().toSeq
    assert(out == Seq(
      (10L, "shared header\nunique ten\nshared footer", 3),
      (11L, "unique eleven", 1),
      (13L, "twice\nunique thirteen", 2)))
    // differential: the shipped agg form equals the window reference,
    // here and on a larger randomized-ish corpus (deterministic gen)
    val big = (1L to 300L).map { i =>
      val ls = (0 until (i % 7 + 1).toInt)
        .map(j => s"line ${(i * 31 + j * 17) % 50}")
      (i, ls.mkString("\n"))
    }.toDF("doc_id", "text")
    for (d <- Seq(docs, big)) {
      val a = LineClean.corpusLineDedup(d, "doc_id", "text")
        .orderBy($"doc_id").as[(Long, String, Int)].collect().toSeq
      val w = LineClean.corpusLineDedupWindow(d, "doc_id", "text")
        .orderBy($"doc_id").as[(Long, String, Int)].collect().toSeq
      assert(a == w)
    }
  }

  test("cdcChunks: lossless, content-defined, shift-invariant past the edit") {
    import graft.ops.TrainingPrep
    def chunksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      TrainingPrep.cdcChunks(df, "doc_id", "text", window = 4, modulus = 4)
        .select($"doc_id", $"chunk_id", $"chunk_text")
        .as[(Long, Int, String)].collect().toSeq
        .groupBy(_._1).map { case (id, cs) =>
          id -> cs.sortBy(_._2).map(_._3) }
    // a deterministic ~120-token doc with enough hash variety for
    // several boundaries at modulus 4
    val words = (0 until 120).map(i => s"w${(i * 37) % 53}")
    val base = words.mkString(" ")
    val t = Seq((1L, base)).toDF("doc_id", "text")
    val cs = chunksOf(t)(1L)
    assert(cs.length > 3, s"expected several chunks, got ${cs.length}")
    // lossless: chunks concatenate back to the token stream
    assert(cs.mkString(" ") == base)
    // shift invariance: prepend two tokens; fixed-stride windows all
    // move, but CDC boundaries re-align — every chunk after the first
    // boundary of the original must reappear verbatim
    val shifted = Seq((1L, s"zz yy $base")).toDF("doc_id", "text")
    val cs2 = chunksOf(shifted)(1L)
    assert(cs2.mkString(" ") == s"zz yy $base")
    val commonTail = cs.tail
    assert(commonTail.nonEmpty &&
      commonTail.forall(c => cs2.contains(c)),
      s"CDC chunks did not re-align after a prefix edit:\n$cs\nvs\n$cs2")
    // contrast: the fixed-stride form re-aligns NOTHING (every window
    // crosses the shifted grid)
    val fixedA = TrainingPrep.chunkByTokens(t, "doc_id", "text", 8, 8)
      .select($"chunk_text").as[String].collect().toSet
    val fixedB = TrainingPrep.chunkByTokens(shifted, "doc_id", "text", 8, 8)
      .select($"chunk_text").as[String].collect().toSet
    assert((fixedA intersect fixedB).size < commonTail.size,
      "fixed-stride chunking unexpectedly shift-stable on this fixture")
    // short doc: fewer tokens than one window -> exactly itself
    val short = chunksOf(Seq((1L, "a b c")).toDF("doc_id", "text"))(1L)
    assert(short == Seq("a b c"))
  }

  // shared with the DSIR and LM-filter reference models: the repo's
  // portable 60-bit md5 hash, sequentially
  private def md560(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map(x => f"$x%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("dsirSelect matches a sequential reference model exactly") {
    val B = 64
    val docs = Seq(
      (1L, "alpha beta alpha gamma", true),
      (2L, "alpha beta alpha gamma", true), // identical text to doc 1
      (3L, "beta gamma delta alpha beta", true),
      (4L, "omega psi chi phi", false),
      (5L, "omega psi omega psi chi", false),
      (6L, "alpha omega beta psi", false),
      (7L, "x", false)) // single token: unigram only, no bigram
    val df = docs.toDF("doc_id", "text", "is_t")
    val out = TrainingPrep.dsirSelect(df, "doc_id", "text",
        targetPred = $"is_t", buckets = B, n = 3)
      .select($"doc_id", $"logw_micro", $"selected", $"sampled")
      .as[(Long, Long, Boolean, Boolean)].collect().sortBy(_._1)

    // sequential model: same hashing, same smoothing, same micro floor
    def grams(t: String): Seq[String] = {
      val w = t.trim.split("\\s+").toSeq
      w ++ w.sliding(2).filter(_.length == 2).map(_.mkString(" "))
    }
    val all = docs.flatMap { case (id, t, tg) =>
      grams(t).map(g => (id, tg, (md560("g:" + g) % B).toInt)) }
    val cr = all.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val ct = all.filter(_._2).groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val (nr, nt) = (all.size.toLong, all.count(_._2).toLong)
    val lrm = cr.map { case (b, c) =>
      val p = (ct.getOrElse(b, 0L) + 1).toDouble / (nt + B)
      val q = (c + 1).toDouble / (nr + B)
      b -> math.floor(math.log(p / q) * 1e6).toLong }
    val logw = docs.map { case (id, t, _) =>
      id -> grams(t).map(g => lrm((md560("g:" + g) % B).toInt)).sum }.toMap
    out.foreach { case (id, w, _, _) =>
      assert(w == logw(id), s"doc $id: $w != model ${logw(id)}") }
    assert(out.find(_._1 == 1L).get._2 == out.find(_._1 == 2L).get._2,
      "identical text must score identically")

    val gum = docs.map { case (id, _, _) =>
      val u = ((md560("u:" + id) % 1000000L).toDouble + 0.5) / 1000000.0
      id -> math.floor(-1e6 * math.log(-1.0 * math.log(u))).toLong }.toMap
    val expSel = docs.map(_._1).sortBy(id => (-logw(id), id)).take(3).toSet
    val expSamp = docs.map(_._1)
      .sortBy(id => (-(logw(id) + gum(id)), id)).take(3).toSet
    assert(out.filter(_._3).map(_._1).toSet == expSel, "selected != model top-n")
    assert(out.filter(_._4).map(_._1).toSet == expSamp, "sampled != model Gumbel top-n")
    // n >= corpus: everything selected, both rules
    val allSel = TrainingPrep.dsirSelect(df, "doc_id", "text", $"is_t", B, 100)
    assert(allSel.filter($"selected" && $"sampled").count() == docs.size)
  }

  test("dsirModel is dense; indexed scoring ≡ in-query; unseen grams hit the default") {
    val B = 64
    val corpus = Seq(
      (1L, "alpha beta alpha gamma", true),
      (2L, "beta gamma delta alpha beta", true),
      (3L, "omega psi chi phi", false),
      (4L, "alpha omega beta psi", false)).toDF("doc_id", "text", "is_t")
    val model = TrainingPrep.dsirModel(corpus, "doc_id", "text", $"is_t", B)
    // dense: exactly B rows, every bucket present exactly once
    val rows = model.select($"__b", $"__lrm").as[(Int, Long)].collect()
    assert(rows.length == B && rows.map(_._1).toSet == (0 until B).toSet)
    // steady state ≡ in-query on the training corpus (q118's claim)
    val inQuery = TrainingPrep.dsirScores(corpus, "doc_id", "text", $"is_t", B)
      .select($"doc_id", $"logw_micro").as[(Long, Long)].collect().sortBy(_._1)
    val indexed = TrainingPrep.dsirScoreWith(model, corpus, "doc_id", "text", B)
      .select($"doc_id", $"logw_micro").as[(Long, Long)].collect().sortBy(_._1)
    assert(inQuery.toSeq == indexed.toSeq,
      s"indexed scoring diverged:\n${inQuery.toSeq}\nvs\n${indexed.toSeq}")
    // a future batch with grams no corpus gram hashed into: every one
    // of its buckets must score the smoothed empty-bucket default
    // (ln((1/(nt+B))/(1/(nr+B))) = ln((nr+B)/(nt+B)) micro-floored) —
    // pick a token whose buckets (unigram only, one gram) are empty
    val lrmByB = rows.toMap
    val all = corpus.as[(Long, String, Boolean)].collect()
    def grams(t: String) = {
      val w = t.trim.split("\\s+").toSeq
      w ++ w.sliding(2).filter(_.length == 2).map(_.mkString(" "))
    }
    val used = all.flatMap(d => grams(d._2))
      .map(g => (md560("g:" + g) % B).toInt).toSet
    val nr = all.flatMap(d => grams(d._2)).size.toLong
    val nt = all.filter(_._3).flatMap(d => grams(d._2)).size.toLong
    val default = math.floor(math.log(
      (1.0 / (nt + B)) / (1.0 / (nr + B))) * 1e6).toLong
    val novel = (1 to 500).map(i => s"novel$i")
      .find(w => !used.contains((md560("g:" + w) % B).toInt)).get
    val batch = Seq((99L, novel)).toDF("doc_id", "text")
    val got = TrainingPrep.dsirScoreWith(model, batch, "doc_id", "text", B)
      .select($"logw_micro").as[Long].head()
    assert(got == default, s"empty-bucket default: $got != $default")
    assert(lrmByB((md560("g:" + novel) % B).toInt) == default)
  }

  test("lmModel is dense; persisted-model scoring ≡ in-query") {
    import graft.ops.TextAnalysis
    val B = 64
    val docs = Seq(
      (1L, "a b a b a b", true), (2L, "b a b a", true),
      (3L, "a b x y", false), (4L, "p q r s", false))
      .toDF("doc_id", "text", "is_ref")
    val model = TextAnalysis.lmModel(docs, "doc_id", "text", $"is_ref", B)
    val rows = model.select($"__b", $"__cb", $"__cp")
      .as[(Int, Long, Long)].collect()
    assert(rows.length == B && rows.map(_._1).toSet == (0 until B).toSet)
    // total event and context counts both equal the reference bigrams
    val nRefBg = 5 + 3 // "a b a b a b" has 5 bigrams, "b a b a" has 3
    assert(rows.map(_._2).sum == nRefBg && rows.map(_._3).sum == nRefBg)
    val direct = TextAnalysis.lmPerplexityFilter(docs, "doc_id", "text",
        $"is_ref", B, 3000000L)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    val indexed = TextAnalysis.lmScoreWith(model, docs, "doc_id", "text",
        B, 3000000L)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(direct.toSeq == indexed.toSeq,
      s"persisted-model scoring diverged:\n${direct.toSeq}\nvs\n${indexed.toSeq}")
  }

  test("lmPerplexityFilter matches a sequential reference model; edge docs") {
    import graft.ops.TextAnalysis
    val B = 64
    val docs = Seq(
      (1L, "a b a b a b a b a b", true), // the reference corpus
      (2L, "b a b a b", true),
      (3L, "a b a b", false),    // familiar bigrams -> cheap
      (4L, "x y z w", false),    // unseen bigrams -> expensive
      (5L, "solo", false),       // no bigram: keep=false, zeros
      (6L, "a q a q", false))    // familiar contexts, unseen bigrams
    val df = docs.toDF("doc_id", "text", "is_ref")
    // sequential model
    def bigrams(t: String): Seq[String] =
      t.trim.split("\\s+").toSeq.sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
    val refBg = docs.filter(_._3).flatMap(d => bigrams(d._2))
    val cb = refBg.groupBy(g => (md560("b:" + g) % B).toInt)
      .view.mapValues(_.size.toLong).toMap
    val cp = refBg.map(_.split(" ")(0))
      .groupBy(w => (md560("c:" + w) % B).toInt)
      .view.mapValues(_.size.toLong).toMap
    val model = docs.map { case (id, t, _) =>
      val bs = bigrams(t)
      val s = bs.map { g =>
        val hb = (md560("b:" + g) % B).toInt
        val hp = (md560("c:" + g.split(" ")(0)) % B).toInt
        math.floor(-1e6 * math.log(
          (cb.getOrElse(hb, 0L) + 1).toDouble / (cp.getOrElse(hp, 0L) + B)))
          .toLong
      }.sum
      id -> ((bs.size.toLong, s)) }.toMap

    val thr = 3000000L
    val out = TextAnalysis.lmPerplexityFilter(df, "doc_id", "text",
        refPred = $"is_ref", buckets = B, thresholdMicroPerTok = thr)
      .select($"doc_id", $"n_bigrams", $"nll_sum_micro", $"keep")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    out.foreach { case (id, nb, s, k) =>
      assert((nb, s) == model(id), s"doc $id: ($nb,$s) != model ${model(id)}")
      assert(k == (nb > 0 && s <= thr * nb), s"doc $id keep rule") }
    // the semantics the operator exists for: familiar text costs less
    val cost = out.map(r => r._1 -> (if (r._2 == 0) Long.MaxValue
      else r._3 / r._2)).toMap
    assert(cost(3L) < cost(6L) && cost(6L) < cost(4L),
      s"per-token cost must rank familiar < half-familiar < unseen: $cost")
    // single-token doc: zeros and dropped
    assert(out.find(_._1 == 5L).get == ((5L, 0L, 0L, false)))
  }

  test("ppsSystematicSample: Σmult = k, certainty for heavy rows, " +
      "sequential-reference differential, zero-weight exclusion") {
    // skewed weights: one row holds ~half the mass; a zero-weight row;
    // hostile partitioning
    val rows = (1L to 200L).map(i =>
      (i, if (i == 7L) 5000L else if (i == 13L) 0L else 1L + i % 50))
    val df = rows.toDF("id", "w").repartition(13)
    val k = 37
    val out = TrainingPrep.ppsSystematicSample(df, "id", "w", k)
      .select(col("id"), col("w"), col("cum"), col("mult"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(out.map(_._4).sum == k)
    // sequential reference: midpoint picks over the cumulative axis
    val totalW = rows.map(_._2).sum
    val picks = (1 to k).map(i => ((2L * i - 1) * totalW) / (2L * k))
    var cum = 0L
    val expect = rows.sortBy(_._1).flatMap { case (id, w) =>
      val lo = cum; cum += w
      val m = picks.count(p => p > lo && p <= cum)
      if (m > 0) Some((id, m.toLong)) else None
    }
    assert(out.map(r => (r._1, r._4)).toSeq == expect)
    // certainty: the heavy row (w >= W/k) is always drawn, with
    // multiplicity within 1 of its proportional share
    val heavy = out.find(_._1 == 7L).get
    val share = 5000.0 * k / totalW
    assert(heavy._4 >= 1 && math.abs(heavy._4 - share) <= 1.0,
      s"heavy mult=${heavy._4} share=$share")
    // zero-weight row never drawn
    assert(!out.exists(_._1 == 13L))
  }

  test("ppsSystematicSampleBy: per-group Σmult = k, groups independent") {
    val rows = (for (g <- Seq("x", "y", "z"); i <- 1L to 120L)
      yield (g, i, if (g == "y" && i == 3L) 2000L else 1L + (i * 7) % 40))
    val df = rows.toDF("g", "id", "w").repartition(7)
    val k = 11
    val out = TrainingPrep.ppsSystematicSampleBy(df, "g", "id", "w", k)
      .select(col("g"), col("id"), col("mult"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // exactly k draws in every group
    assert(out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap ==
      Map("x" -> k.toLong, "y" -> k.toLong, "z" -> k.toLong))
    // each group matches the ungrouped op run on its slice alone
    for (g <- Seq("x", "y", "z")) {
      val solo = TrainingPrep.ppsSystematicSample(
          df.filter(col("g") === g), "id", "w", k)
        .select(col("id"), col("mult"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(out.filter(_._1 == g).map(r => (r._2, r._3)).sortBy(_._1)
        .toSeq == solo, s"group $g disagrees with the solo op")
    }
  }

  test("equalWeightShards: brute-force agreement, contiguity, and " +
      "the one-document balance bound per (group, shard)") {
    val rows = (for (g <- Seq("a", "b"); i <- 1L to 200L)
      yield (g, i, 1L + (i * 13) % 50)) ++ Seq(("c", 1L, 7L)) // 1-doc group
    val df = rows.toDF("g", "id", "w").repartition(7)
    val b = 4
    val out = TrainingPrep.equalWeightShards(df, "g", "id", "w", b)
      .select(col("g"), col("id"), col("shard")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val exp = rows.groupBy(_._1).toSeq.flatMap { case (g, docs) =>
      val sorted = docs.sortBy(_._2)
      val tw = sorted.map(_._3).sum
      val starts = sorted.map(_._3).scanLeft(0L)(_ + _).init
      sorted.zip(starts).map { case ((_, id, _), st) =>
        (g, id, math.min(b - 1L, st * b / tw))
      }
    }
    assert(out.sorted == exp.sorted)
    // shards are contiguous in id order and each carries within one
    // max-document of the ideal W/B mass
    for (g <- Seq("a", "b")) {
      val byShard = rows.filter(_._1 == g).sortBy(_._2)
        .map(r => (r._2, r._3))
        .zip(out.filter(_._1 == g).sortBy(_._2).map(_._3))
      assert(byShard.map(_._2) == byShard.map(_._2).sorted) // contiguous
      val tw = byShard.map(_._1._2).sum
      val maxW = byShard.map(_._1._2).max
      byShard.groupBy(_._2).foreach { case (sh, ds) =>
        val mass = ds.map(_._1._2).sum
        assert(math.abs(mass - tw / b) <= maxW + tw % b,
          s"group $g shard $sh mass $mass vs ideal ${tw / b}")
      }
    }
  }
}
