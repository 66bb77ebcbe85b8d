package graft

import graft.ops.{EventAnalytics, Profile}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Column-profile semantics on a planted frame (nulls, duplicates,
  * type-native min/max) and the single-scan plan shape.
  *
  * The skew-safe ops read their slice count from the session, so the
  * drift tests set it with `withConf(ShufflePartitions -> n)`. Their
  * small local frames take `sliceBoundsFor`'s small-frame skip and run
  * on one slice; the mega-key tests feed `noStats` frames, which run
  * the quantile pass and several slices. */
class ProfileSpec extends SparkSuite {
  import spark.implicits._

  /** The drift kernel's count frame of samples A and B of `s` over
    * `v` — the input every drift test below feeds its statistic. */
  private def ab(df: DataFrame, group: Option[String] = None) =
    Profile.driftCounts(df, "v", "s", "A", "B", group)

  test("profile: counts/nulls/distincts/min-max, native-type ordering") {
    val df = Seq(
      (Some(9L), Some("b")),
      (Some(10L), Some("a")),
      (Some(10L), None),
      (None, Some("a")))
      .toDF("num", "s")
    val out = Profile.profile(df, Seq("num", "s"))
      .orderBy("col_name").collect()
    val num = out(0); val s = out(1)
    assert(num.getString(0) == "num" && num.getLong(1) == 4 &&
      num.getLong(2) == 3 && num.getLong(3) == 2)
    // native long min/max: 9 < 10 (a string-space min would say "10")
    assert(num.getString(4) == "9" && num.getString(5) == "10")
    assert(s.getLong(2) == 3 && s.getLong(3) == 2 &&
      s.getString(4) == "a" && s.getString(5) == "b")
  }

  test("profileApprox: estimate == hllEstimate register-for-register, " +
      "band vs truth, exact stats unchanged, both lanes") {
    import org.apache.spark.sql.functions.col
    // 5000 distinct longs + a low-cardinality string column + nulls
    val df = (1 to 5000).map(i =>
        (if (i % 50 == 0) None else Some(i.toLong), s"s-${i % 7}"))
      .toDF("num", "s")
    for (portable <- Seq(true, false)) {
      val out = Profile.profileApprox(df, Seq("num", "s"), portable)
        .orderBy("col_name").collect()
      val num = out(0); val s = out(1)
      // exact stats identical to Profile.profile's
      assert(num.getLong(1) == 5000 && num.getLong(2) == 4900)
      assert(num.getString(4) == "1" && num.getString(5) == "4999")
      assert(s.getLong(2) == 5000 && s.getString(4) == "s-0" &&
        s.getString(5) == "s-6")
      // the estimate must be EXACTLY what hllEstimate derives from
      // the same lane's register table (the math is shared, only
      // re-expressed over integer sufficient statistics)...
      val regs =
        if (portable) graft.ops.Sketches.hllRegisters(
          df.filter(col("num").isNotNull), "num")
        else graft.ops.Sketches.hllRegistersFast(
          df.filter(col("num").isNotNull), "num")
      val ref = math.round(graft.ops.Sketches.hllEstimate(regs))
      assert(num.getLong(3) == ref, s"portable=$portable: ${num.getLong(3)} != $ref")
      // ...and inside the m=256 band of truth (3 sigma = 20%)
      assert(math.abs(num.getLong(3) - 4900) / 4900.0 < 0.20,
        s"portable=$portable est=${num.getLong(3)}")
      // low cardinality rides the linear-counting branch exactly
      assert(s.getLong(3) == 7, s"portable=$portable est7=${s.getLong(3)}")
    }
  }

  test("categoricalProfile: mode tiebreak, gini floor arithmetic, " +
      "single-value and uniform groups") {
    // g=1: counts {5:3, 7:3, 9:1} — tie between 5 and 7 → mode 5;
    //      n=7, nd=3, sq=19, gini = floor(1e6·(49−19)/49) = 612244
    // g=2: single value → gini 0
    // g=3: uniform two values → gini = floor(1e6·(4−2)/4) = 500000
    val df = (Seq.fill(3)(5L) ++ Seq.fill(3)(7L) ++ Seq(9L))
      .map((1L, _)) ++ Seq((2L, 4L), (2L, 4L), (3L, 1L), (3L, 2L))
    val out = Profile.categoricalProfile(
        df.toDF("g", "v"), "g", "v")
      .orderBy("g").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(out == Seq(
      (1L, 7L, 3L, 5L, 3L, 612244L),
      (2L, 2L, 1L, 4L, 2L, 0L),
      (3L, 2L, 2L, 1L, 1L, 500000L)))
  }

  test("ksDrift: identical samples → 0; disjoint supports → 1e6; " +
      "hand-computed mixed case with cross-sample ties") {
    def ks(rows: Seq[(Long, String)]) =
      withConf(ShufflePartitions -> "3") {
        Profile.ksDrift(ab(rows.toDF("v", "s")), "v")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).head
      }
    // identical distributions: D = 0
    val same = (1L to 50L).flatMap(i => Seq((i, "A"), (i, "B")))
    assert(ks(same) == (50L, 50L, 0L, 0L))
    // disjoint supports: D = 1 → exactly 1e6 micros
    val disj = (1L to 30L).map((_, "A")) ++ (31L to 70L).map((_, "B"))
    assert(ks(disj) == (30L, 40L, 30L * 40L, 1000000L))
    // mixed with ties: A = {1,2,2,5}, B = {2,3}; CDF evaluated after
    // each value's full mass: at v=2 |3·2 − 1·4| = 2 is the sup
    val mixed = Seq((1L, "A"), (2L, "A"), (2L, "A"), (5L, "A"),
      (2L, "B"), (3L, "B"))
    assert(ks(mixed) == (4L, 2L, 2L, 250000L))
    // a third sample value is excluded by the filter
    assert(ks(mixed :+ (99L, "C")) == (4L, 2L, 2L, 250000L))
  }

  test("mannWhitneyU: stochastic order extremes, the all-tied case, " +
      "and a brute-force pair count with ties") {
    def mw(rows: Seq[(Long, String)]) =
      withConf(ShufflePartitions -> "3") {
        Profile.mannWhitneyU(ab(rows.toDF("v", "s")), "v")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).head
      }
    // every A below every B: U = 0
    val below = (1L to 10L).map((_, "A")) ++ (11L to 15L).map((_, "B"))
    assert(mw(below) == (10L, 5L, 0L, 0L))
    // every A above every B: U = n1·n2 → 1e6
    val above = (11L to 20L).map((_, "A")) ++ (1L to 5L).map((_, "B"))
    assert(mw(above) == (10L, 5L, 2L * 10L * 5L, 1000000L))
    // all tied: U = n1·n2/2 → exactly 500000
    val tied = (1L to 6L).map(i => (7L, if (i % 2 == 0) "A" else "B"))
    assert(mw(tied) == (3L, 3L, 9L, 500000L))
    // brute force: 2U = 2·#(a>b) + #(a=b) over all pairs
    val mixed = Seq((1L, "A"), (3L, "A"), (3L, "A"), (8L, "A"),
      (2L, "B"), (3L, "B"), (9L, "B"))
    val as = mixed.filter(_._2 == "A").map(_._1)
    val bs = mixed.filter(_._2 == "B").map(_._1)
    val u2ref = (for (x <- as; y <- bs) yield
      (if (x > y) 2L else if (x == y) 1L else 0L)).sum
    val got = mw(mixed)
    assert(got._3 == u2ref && got == (4L, 3L, u2ref,
      1000000L * u2ref / (2 * 4 * 3)))
  }

  test("ksDriftBy: per-group values match the solo op per slice; " +
      "one-sample groups dropped") {
    val rows =
      (1L to 40L).map(v => ("g1", v, "A")) ++
      (21L to 60L).map(v => ("g1", v, "B")) ++
      (1L to 30L).map(v => ("g2", v, "A")) ++
      (1L to 30L).map(v => ("g2", v, "B")) ++
      (1L to 9L).map(v => ("g3", v, "A")) // no B sample → dropped
    val df = rows.toDF("g", "v", "s").repartition(7)
    withConf(ShufflePartitions -> "3") {
      val out = Profile.ksDrift(ab(df, Some("g")), "v", Some("g"))
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))).toMap
      assert(out.keySet == Set("g1", "g2"))
      for (g <- Seq("g1", "g2")) {
        val solo = Profile.ksDrift(ab(df.filter(col("g") === g)), "v")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).head
        assert(out(g) == solo, s"group $g disagrees with the solo op")
      }
    }
  }

  test("mannWhitneyUBy: per-group values match the solo op per " +
      "slice; one-sample groups dropped") {
    val rows =
      (1L to 40L).map(v => ("g1", v, "A")) ++
      (21L to 60L).map(v => ("g1", v, "B")) ++
      (1L to 30L).flatMap(v => Seq(("g2", v, "A"), ("g2", v, "B"))) ++
      (1L to 9L).map(v => ("g3", v, "B")) // no A sample → dropped
    val df = rows.toDF("g", "v", "s").repartition(7)
    withConf(ShufflePartitions -> "3") {
      val out = Profile.mannWhitneyU(ab(df, Some("g")), "v", Some("g"))
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))).toMap
      assert(out.keySet == Set("g1", "g2"))
      for (g <- Seq("g1", "g2")) {
        val solo = Profile.mannWhitneyU(ab(df.filter(col("g") === g)), "v")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).head
        assert(out(g) == solo, s"group $g disagrees with the solo op")
      }
      assert(out("g2")._4 == 500000L) // identical samples: no drift
    }
  }

  test("equiDepthHistogram == plain NTILE roll-up under the mega-key; " +
      "hand case pins the remainder buckets") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // hand case: one group, n=10, k=4 → bucket sizes 3,3,2,2 with
    // exact boundaries
    val hand = (1L to 10L).map(v => ("g", v * 10, v))
      .toDF("k", "v", "ord")
    val h = Profile.equiDepthHistogram(hand, "k", "ord", "v", 4)
      .orderBy(col("bucket"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(h.toSeq == Seq((1L, 3L, 10L, 30L), (2L, 3L, 40L, 60L),
      (3L, 2L, 70L, 80L), (4L, 2L, 90L, 100L)))
    // mega-key differential vs the plain window form; no size
    // estimate + 5 partitions: the hot key spans slices
    val df = noStats(spark.range(4000).select(
        when(pmod(col("id"), lit(100)) < 95, lit("hot"))
          .otherwise(concat(lit("k"), pmod(col("id"), lit(7))))
          .as("k"),
        ((col("id") * 37) % 1000).as("v"), col("id").as("ord"))
      .repartition(9))
    val w = Window.partitionBy(col("k")).orderBy(col("ord"))
    val plain = df
      .withColumn("bucket", ntile(6).over(w).cast("long"))
      .groupBy(col("k"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
    withConf(ShufflePartitions -> "5") {
      assert(EventAnalytics.sliceBoundsFor(df, "ord").length >= 2)
      val fast = Profile.equiDepthHistogram(df, "k", "ord", "v", 6)
      assert(fast.exceptAll(plain).isEmpty &&
        plain.exceptAll(fast).isEmpty)
    }
  }

  test("cvmDrift: identical → 0, hand case exact, ≡ BigInt reference " +
      "with the same nested-floor on a planted frame") {
    def cvm(rows: Seq[(Long, String)]) =
      withConf(ShufflePartitions -> "3") {
        Profile.cvmDrift(ab(rows.toDF("v", "s")), "v")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .head
      }
    val same = (1L to 40L).flatMap(v => Seq((v, "A"), (v, "B")))
    assert(cvm(same) == (40L, 40L, 0L))
    // hand case: A = {1,2}, B = {1,3} → T = 1/16 exactly
    assert(cvm(Seq((1L, "A"), (2L, "A"), (1L, "B"), (3L, "B"))) ==
      (2L, 2L, 62500L))
    // planted mixed frame vs a BigInt reference computing the SAME
    // defined nested-floor
    val rows = (0L until 500L).map(i =>
      ((i * 37) % 90, if (i % 3 == 0) "B" else "A"))
    def ref(data: Seq[(Long, String)]): (Long, Long, Long) = {
      val byV = data.groupBy(_._1).toSeq.sortBy(_._1).map { case (v, g) =>
        (v, g.count(_._2 == "A").toLong, g.count(_._2 == "B").toLong)
      }
      val n1 = byV.map(_._2).sum; val n2 = byV.map(_._3).sum
      val m = BigInt(n1) * n2
      var ia = 0L; var ib = 0L
      var sq = BigInt(0); var sr = BigInt(0)
      byV.foreach { case (_, ca, cb) =>
        ia += ca; ib += cb
        val d = (BigInt(ia) * n2 - BigInt(ib) * n1).abs
        sq += BigInt(ca + cb) * ((d * d) / m)
        sr += BigInt(ca + cb) * ((d * d) % m)
      }
      val t = (BigInt(1000000) * sq + (BigInt(1000000) * sr) / m) /
        (BigInt(n1 + n2) * (n1 + n2))
      (n1, n2, t.toLong)
    }
    assert(cvm(rows) == ref(rows))
    assert(cvm(rows)._3 > 0L) // the planted mix actually drifts
  }

  test("keyProfile: singles skip nulls, tuples count null components, " +
      "one aggregate job") {
    val df = Seq(
      (Some(1L), "a"), (Some(2L), "a"), (None, "b"), (Some(2L), "b")
    ).toDF("x", "y")
    val out = Profile.keyProfile(df,
        Seq(Seq("x"), Seq("y"), Seq("x", "y")))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("x") == (4L, 2L, 0L)) // nulls skipped, dup 2
    assert(out("y") == (4L, 2L, 0L))
    // (None,"b") is a distinct TUPLE: struct with a null field counts
    assert(out("x+y") == (4L, 4L, 1L))
    // plan: one aggregate over one scan (no per-candidate jobs)
    val dir = java.nio.file.Files
      .createTempDirectory("keyprofile_scan").toString
    df.write.mode("overwrite").parquet(s"$dir/t.parquet")
    val plan = Profile.keyProfile(spark.read.parquet(s"$dir/t.parquet"),
        Seq(Seq("x"), Seq("y"), Seq("x", "y")))
      .queryExecution.executedPlan.toString
    assert("t\\.parquet".r.findAllIn(plan).length == 1)
  }

  test("fdProfile: planted dependencies hold and planted violations " +
      "count exactly") {
    // id → k holds (unique id); k → id has extra images; k → v has
    // one all-null group (contributes 0) and one 2-image group
    val df = Seq(
      (1L, "a", Some(10L)), (2L, "a", Some(20L)), (3L, "a", Some(20L)),
      (4L, "b", None), (5L, "b", None),
      (6L, "c", Some(7L))
    ).toDF("id", "k", "v")
    val out = Profile.fdProfile(df, Seq("id", "k", "v"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(out(("id", "k")) == (0L, 1L)) // unique lhs: FD holds
    assert(out(("k", "id")) == (2L + 1L, 0L)) // a: 3 ids, b: 2 ids
    assert(out(("k", "v")) == (1L, 0L)) // a: {10,20}; b all-null: 0
    assert(out(("v", "k")) == (0L, 1L)) // each value keeps one k
  }

  test("spearmanExact: ±10⁶ at perfect (dis)concordance, ≡ sequential " +
      "reference under the mega-key, single-row group dropped") {
    // mega-key: 95% of rows on one group; y is a noisy monotone of x
    val rows = (0L until 4001L).map { i =>
      val g = if (i % 100 < 95) "hot" else s"g${i % 5}"
      val x = (i * 37) % 997
      val y = x + (i % 7) * 13 - 39 // correlated, not identical
      (g, i, x, y)
    }
    // no size estimate + 5 partitions: both rank passes slice the
    // hot group (their x-/y-major composite orders follow x and y)
    val df = noStats(rows.toDF("g", "id", "x", "y").repartition(9))
    val got = withConf(ShufflePartitions -> "5") {
      assert(EventAnalytics.sliceBoundsFor(df, "x").length >= 2)
      Profile.spearmanExact(df, "g", "id", "x", "y")
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
    }
    val exp = rows.groupBy(_._1).map { case (g, rs) =>
      val n = rs.size.toLong
      val rx = rs.sortBy(r => (r._3, r._2)).zipWithIndex
        .map { case (r, i) => r._2 -> (i + 1L) }.toMap
      val ry = rs.sortBy(r => (r._4, r._2)).zipWithIndex
        .map { case (r, i) => r._2 -> (i + 1L) }.toMap
      val sd2 = rs.map(r => { val d = rx(r._2) - ry(r._2); BigInt(d) * d })
        .sum
      val rho = BigInt(1000000) -
        (BigInt(6000000) * sd2) / (BigInt(n) * n * n - n)
      g -> ((n, sd2.toLong, rho.toLong))
    }
    assert(got == exp)
    // perfect concordance / discordance pin the endpoints
    val mono = (1L to 50L).map(i => ("m", i, i, i * 3)) ++
      (1L to 50L).map(i => ("a", i, i, -i)) :+ (("one", 1L, 5L, 5L))
    val ends = Profile.spearmanExact(mono.toDF("g", "id", "x", "y"),
        "g", "id", "x", "y")
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(ends == Map("m" -> 1000000L, "a" -> -1000000L)) // n=1 dropped
  }

  test("keyProfileApprox: tuple-candidate HLL estimate within the " +
      "m=256 band of the exact keyProfile; null components counted " +
      "like the exact struct; both lanes") {
    // 3000 distinct ids; (k1, k2) tuple has ~1500 distinct pairs;
    // k2 nullable — the exact struct counts null-component tuples
    val df = (1 to 3000).map { i =>
      (i.toLong, (i % 500).toLong,
        if (i % 10 == 0) None else Some((i % 3).toLong))
    }.toDF("id", "k1", "k2")
    val cands = Seq(Seq("id"), Seq("k1"), Seq("k1", "k2"))
    val exact = Profile.keyProfile(df, cands)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    for (portable <- Seq(true, false)) {
      val est = Profile.keyProfileApprox(df, cands, portable)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(est.keySet == exact.keySet)
      for ((c, nd) <- exact) {
        // HLL with m = 256: ~6.5% rse — accept 4 sigma
        val tol = math.max(8.0, nd * 0.26)
        assert(math.abs(est(c) - nd) <= tol,
          s"$c ($portable): est ${est(c)} vs exact $nd")
      }
    }
    // the stats form zero-fills a candidate with no occupied
    // registers (empty frame)
    val empty = Profile.keyProfileApproxStats(
      df.filter(col("id") < 0), cands)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(empty.forall(_ == ((0L, 0, 0L))))
  }

  /** The kendall tests' mega-key rows: 95% on one group, y a noisy
    * monotone of x. */
  private val kendallRows = (0L until 3001L).map { i =>
    val g = if (i % 100 < 95) "hot" else s"g${i % 4}"
    val x = (i * 37) % 997
    val y = x + (i % 11) * 17 - 80 // correlated, not identical
    (g, i, x, y)
  }

  /** Per group (n, d_pairs, tau_micro) from the sequential pairwise
    * BigInt definition on the composite orders; n = 1 groups dropped. */
  private def pairwiseKendall(rows: Seq[(String, Long, Long, Long)])
      : Map[String, (Long, Long, Long)] =
    rows.groupBy(_._1).collect { case (g, rs) if rs.size > 1 =>
      val os = rs.map(r => (BigInt(r._3) * 1000000000L + r._2,
        BigInt(r._4) * 1000000000L + r._2))
      var d = BigInt(0)
      for (i <- os.indices; j <- os.indices if i < j) {
        val (a, b) = (os(i), os(j))
        if ((a._1 < b._1) != (a._2 < b._2)) d += 1
      }
      val n = BigInt(rs.size)
      g -> ((rs.size.toLong, d.toLong,
        (BigInt(1000000) - (BigInt(4000000) * d) / (n * (n - 1)))
          .toLong))
    }

  private def kendallOut(df: DataFrame)
      : Map[String, (Long, Long, Long)] =
    df.collect().map(r => (r.getString(0),
      (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("kendallTauExact: ≡ sequential pairwise reference under the " +
      "mega-key for several bucket counts; ±10⁶ endpoints; " +
      "single-row group dropped") {
    // no size estimate + 5 partitions: the running-count lanes over
    // the composite x order slice the hot group
    val df = noStats(kendallRows.toDF("g", "id", "x", "y").repartition(9))
    val exp = pairwiseKendall(kendallRows)
    withConf(ShufflePartitions -> "5") {
      assert(EventAnalytics.sliceBoundsFor(df, "y").length >= 2)
      for (b <- Seq(2, 8, 13)) {
        val got = kendallOut(Profile.kendallTauExact(df, "g", "id", "x",
          "y", buckets = b))
        assert(got == exp, s"buckets=$b")
      }
    }
    // perfect concordance / reversal / n=1 drop
    val mono = (1L to 60L).map(i => ("m", i, i, i * 2)) ++
      (1L to 60L).map(i => ("a", i, i, 1000L - i)) :+
      (("one", 1L, 5L, 5L))
    val ends = Profile.kendallTauExact(mono.toDF("g", "id", "x", "y"),
        "g", "id", "x", "y")
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(ends == Map("m" -> 1000000L, "a" -> -1000000L))
  }

  test("kendallTauExactTall: ≡ sequential pairwise reference under " +
      "the mega-key for several (buckets, slices) grids incl. " +
      "asymmetric; ≡ the column form; ±10⁶ endpoints") {
    // no size estimate + 5 partitions: the x- and y-bounds aggregate
    // merges per-partition summaries of the hot group, and the
    // skew-safe prefix and pair stages over the graded frame slice it
    val df = noStats(kendallRows.toDF("g", "id", "x", "y").repartition(9))
    val exp = pairwiseKendall(kendallRows)
    withConf(ShufflePartitions -> "5") {
      assert(EventAnalytics.sliceBoundsFor(df, "x").length >= 2)
      for ((b, s) <- Seq((2, 2), (8, 8), (13, 5), (5, 13), (256, 4))) {
        val got = kendallOut(Profile.kendallTauExactTall(df, "g", "id",
          "x", "y", buckets = b, slices = s))
        assert(got == exp, s"buckets=$b slices=$s")
      }
      // and bit-identical to the column form at the q246 gate shape
      val colForm = kendallOut(Profile.kendallTauExact(df, "g", "id",
        "x", "y", buckets = 32))
      val tallForm = kendallOut(Profile.kendallTauExactTall(df, "g",
        "id", "x", "y", buckets = 32))
      assert(tallForm == colForm && colForm == exp)
    }
    val mono = (1L to 60L).map(i => ("m", i, i, i * 2)) ++
      (1L to 60L).map(i => ("a", i, i, 1000L - i)) :+
      (("one", 1L, 5L, 5L))
    val ends = Profile.kendallTauExactTall(mono.toDF("g", "id", "x", "y"),
        "g", "id", "x", "y")
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(ends == Map("m" -> 1000000L, "a" -> -1000000L))
  }

  test("kendall forms: null id, x or y rows are dropped, so the " +
      "output ≡ the pairwise reference over the non-null rows for " +
      "every bucket count and both forms") {
    // a null ord kept in the frame would grade into cell 1, and the
    // grid counts by cell, so d_pairs would move with `buckets`
    val rows = (0L until 400L).map { i =>
      val x = (i * 37) % 397
      (if (i % 101 == 7) None else Some(i), // 4 null ids
        if (i % 37 == 5) None else Some(x), // 11 null x
        if (i % 53 == 9) None else Some(x + (i % 11) * 17 - 80))
    }
    val df = rows.map { case (id, x, y) => ("g", id, x, y) }
      .toDF("g", "id", "x", "y")
    val exp = pairwiseKendall(rows.collect {
      case (Some(id), Some(x), Some(y)) => ("g", id, x, y)
    })
    assert(exp("g")._1 == 377) // 23 rows carry a null
    for (b <- Seq(2, 8, 13)) {
      assert(kendallOut(Profile.kendallTauExact(df, "g", "id", "x", "y",
        buckets = b)) == exp, s"column form, buckets=$b")
      assert(kendallOut(Profile.kendallTauExactTall(df, "g", "id", "x",
        "y", buckets = b)) == exp, s"tall form, buckets=$b")
    }
  }

  test("kendallGraded: every cell of both axes holds " +
      "n/k ± (2n/accuracy + 1) rows of its group under the mega-key " +
      "and past the accuracy") {
    def assertBalanced(df: DataFrame, k: Int) = {
      val graded = Profile.kendallGraded(df, "test", "g", "id", "x", "y",
        Seq(("__oy", k, "__bkt"), ("__ox", k, "__slc")))
      val n = graded.groupBy("g").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      for (cell <- Seq("__bkt", "__slc")) {
        val got = graded.groupBy("g", cell).count().collect()
          .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
        assert(got.keySet.forall { case (_, c) => c >= 1 && c <= k })
        for ((g, ng) <- n; c <- 1 to k) {
          val tol = 2.0 * ng / Profile.kendallAccuracy(k) + 1
          val cnt = got.getOrElse((g, c), 0L)
          assert(math.abs(cnt - ng.toDouble / k) <= tol,
            s"$g $cell=$c of k=$k: $cnt rows, n=$ng")
        }
      }
    }
    val mega = noStats(kendallRows.toDF("g", "id", "x", "y").repartition(9))
    // 60k rows in one group, more than the accuracy: merging the
    // per-partition summaries compresses them, so the bounds are
    // approximate
    val big = noStats(spark.range(60000).select(lit("big").as("g"),
        col("id"), ((col("id") * 7919) % 60013).as("x"),
        ((col("id") * 104729) % 59999).as("y"))
      .repartition(9))
    withConf(ShufflePartitions -> "5") {
      for (k <- Seq(2, 8, 13, 256)) assertBalanced(mega, k)
      for (k <- Seq(8, 32)) assertBalanced(big, k)
    }
  }

  test("kendall forms: building each runs at most 6 jobs (the guard, " +
      "then the bounds aggregate and checkpoint stages)") {
    val meter = RunMeter.attach(spark)
    val df = noStats(kendallRows.toDF("g", "id", "x", "y").repartition(9))
    def buildJobs(build: => Any): Int = {
      meter.reset()
      build
      meter.read().jobs
    }
    withConf(ShufflePartitions -> "5") {
      val colJobs = buildJobs(Profile.kendallTauExact(df, "g", "id", "x",
        "y", buckets = 8))
      val tallJobs = buildJobs(Profile.kendallTauExactTall(df, "g", "id",
        "x", "y", buckets = 8))
      assert(colJobs <= 6, s"column form built with $colJobs jobs")
      assert(tallJobs <= 6, s"tall form built with $tallJobs jobs")
    }
  }

  test("spearmanExact: out-of-domain input THROWS instead of " +
      "silently corrupting the composite rank order") {
    // oversized value: |x| > (2^63-1 - (1e9-1)) / 1e9 wraps long
    val bigV = Seq(("g", 1L, 9300000000L, 1L), ("g", 2L, 1L, 2L))
      .toDF("g", "id", "x", "y")
    val e1 = intercept[IllegalArgumentException] {
      Profile.spearmanExact(bigV, "g", "id", "x", "y") }
    assert(e1.getMessage.contains("value*1e9"))
    // negative id: (v=5, id=-5) collides with (v=4, id=999999995)
    val negId = Seq(("g", -5L, 5L, 1L), ("g", 2L, 4L, 2L))
      .toDF("g", "id", "x", "y")
    val e2 = intercept[IllegalArgumentException] {
      Profile.spearmanExact(negId, "g", "id", "x", "y") }
    assert(e2.getMessage.contains("[0, 1e9)"))
    // id >= 1e9: same collision class from above
    val bigId = Seq(("g", 1000000000L, 5L, 1L), ("g", 2L, 4L, 2L))
      .toDF("g", "id", "x", "y")
    intercept[IllegalArgumentException] {
      Profile.spearmanExact(bigId, "g", "id", "x", "y") }
    // in-domain frame still computes (the guard is not over-eager)
    val ok = Seq(("g", 1L, 10L, 20L), ("g", 2L, 30L, 40L))
      .toDF("g", "id", "x", "y")
    assert(Profile.spearmanExact(ok, "g", "id", "x", "y")
      .collect().head.getLong(3) == 1000000L)
  }

  test("binnedRefBoundaries: same composite-ord domain enforcement") {
    val bigTie = Seq((5L, 1000000001L), (6L, 2L)).toDF("v", "t")
    val e = intercept[IllegalArgumentException] {
      Profile.binnedRefBoundaries(bigTie, "v", "t", 2) }
    assert(e.getMessage.contains("[0, 1e9)"))
    val bigV = Seq((9300000000L, 1L), (6L, 2L)).toDF("v", "t")
    intercept[IllegalArgumentException] {
      Profile.binnedRefBoundaries(bigV, "v", "t", 2) }
  }

  test("composite-ord guard: abs-wrap, NaN-through-cast and " +
      "fractional-truncation paths are all closed (ADVICE r13)") {
    // Long.MinValue: abs() wraps negative, so an abs-based guard
    // passes the one value it must reject — min/max does not
    val wrap = Seq(("g", 1L, Long.MinValue, 1L), ("g", 2L, 1L, 2L))
      .toDF("g", "id", "x", "y")
    val e1 = intercept[IllegalArgumentException] {
      Profile.spearmanExact(wrap, "g", "id", "x", "y") }
    assert(e1.getMessage.contains("value*1e9"))
    // a DOUBLE column is rejected on dtype alone: a fractional value
    // marginally over the bound truncates through cast("long") while
    // x*1e9 computes in double (lossy), and NaN casts to null —
    // vanishing from any aggregate guard
    val dbl = Seq(("g", 1L, 9223372035.5, 1L), ("g", 2L, 1.0, 2L))
      .toDF("g", "id", "x", "y")
    val e2 = intercept[IllegalArgumentException] {
      Profile.spearmanExact(dbl, "g", "id", "x", "y") }
    assert(e2.getMessage.contains("integral"))
    val nan = Seq((Double.NaN, 1L), (6.0, 2L)).toDF("v", "t")
    val e3 = intercept[IllegalArgumentException] {
      Profile.binnedRefBoundaries(nan, "v", "t", 2) }
    assert(e3.getMessage.contains("integral"))
    // Long.MinValue value on the boundary build
    intercept[IllegalArgumentException] {
      Profile.binnedRefBoundaries(
        Seq((Long.MinValue, 1L), (6L, 2L)).toDF("v", "t"), "v", "t", 2) }
  }

  test("binnedRefBoundaries: null reference values are excluded " +
      "before the quantile pass — nullful ref ≡ pre-filtered ref " +
      "(ADVICE r13)") {
    val clean = (1L to 100L).map(v => (v, v)).toDF("v", "t")
    val nullful = ((1L to 100L).map(v =>
        (java.lang.Long.valueOf(v), v)) ++
      Seq((null.asInstanceOf[java.lang.Long], 101L),
        (null.asInstanceOf[java.lang.Long], 102L))).toDF("v", "t")
    val a = Profile.binnedRefBoundaries(clean, "v", "t", 10)
      .collect().map(_.getLong(0)).sorted.toSeq
    val b = Profile.binnedRefBoundaries(nullful, "v", "t", 10)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b && a.size == 9)
  }

  test("keyProfileApproxStats: colliding candidate labels THROW " +
      "instead of silently merging HLL lanes (ADVICE r13)") {
    val df = (1 to 10).map(i => (i.toLong, i.toLong))
      .toDF("a", "b").withColumn("a+b", col("a"))
    val e = intercept[IllegalArgumentException] {
      Profile.keyProfileApproxStats(df,
        Seq(Seq("a", "b"), Seq("a+b"))) }
    assert(e.getMessage.contains("collide"))
  }

  test("drift kernel matrix: for every statistic and the report, " +
      "ref/probe counts ≡ in-query counts solo and keyed, each keyed " +
      "row ≡ the solo statistic on its group, the one-sample group " +
      "drops, and so does the solo form with an empty sample B") {
    // g1 shifted supports with ties, g2 small hand-sized samples,
    // g3 sample A only
    val rows = (1L to 12L).map(v => ("g1", v, "A")) ++
      (6L to 15L).map(v => ("g1", v / 2 * 2, "B")) ++
      Seq(3L, 3L, 7L, 9L).map(v => ("g2", v, "A")) ++
      Seq(3L, 5L, 9L, 9L, 11L).map(v => ("g2", v, "B")) ++
      (1L to 4L).map(v => ("g3", v, "A"))
    val df = rows.toDF("g", "v", "s").repartition(4)
    val (a, b) = (df.filter(col("s") === "A"), df.filter(col("s") === "B"))
    val stats: Seq[(String, (DataFrame, String, Option[String]) => DataFrame)] =
      Seq("ks" -> (Profile.ksDrift(_, _, _)),
        "u" -> (Profile.mannWhitneyU(_, _, _)),
        "w1" -> (Profile.emdDrift(_, _, _)),
        "cvm" -> (Profile.cvmDrift(_, _, _)),
        "tvd" -> (Profile.tvdDrift(_, _, _)),
        "report" -> (Profile.driftReport(_, _, _)))
    def rowSet(d: DataFrame) = d.collect().map(_.toSeq).toSet
    // keyed rows by group, the group column cut out
    def byGroup(d: DataFrame) = d.collect().toSeq.groupBy(_.getAs[String]("g"))
      .map { case (g, rs) =>
        g -> rs.map(r => r.toSeq.patch(r.fieldIndex("g"), Nil, 1)).toSet }
    withConf(ShufflePartitions -> "3") {
      for ((name, stat) <- stats; group <- Seq(None, Some("g"))) {
        val merged = Profile.refProbeCounts(Profile.distCounts(a, "v", group),
          Profile.distCounts(b, "v", group), "v", group)
        assert(rowSet(stat(merged, "v", group)) ==
          rowSet(stat(ab(df, group), "v", group)), s"$name $group: (a)")
      }
      for ((name, stat) <- stats) {
        val keyed = byGroup(stat(ab(df, Some("g")), "v", Some("g")))
        assert(keyed.keySet == Set("g1", "g2"), s"$name: (c)")
        for (g <- Seq("g1", "g2"))
          assert(keyed(g) ==
            rowSet(stat(ab(df.filter(col("g") === g)), "v", None)),
            s"$name $g: (b)")
        assert(stat(ab(a), "v", None).collect().isEmpty, s"$name: (d)")
      }
    }
  }

  test("drift family: null values are excluded — solo forms see the " +
      "same frame as the distCounts-probed steady forms") {
    val rows: Seq[(java.lang.Long, String)] =
      ((1L to 30L).map(v => (java.lang.Long.valueOf(v), "A")) ++
        (11L to 40L).map(v => (java.lang.Long.valueOf(v), "B")) ++
        Seq((null.asInstanceOf[java.lang.Long], "A"),
          (null.asInstanceOf[java.lang.Long], "B")))
    val withNulls = rows.toDF("v", "s")
    val clean = withNulls.filter(col("v").isNotNull)
    def one(d: org.apache.spark.sql.DataFrame) = d.collect().head.toSeq
    assert(one(Profile.ksDrift(ab(withNulls), "v")) ==
      one(Profile.ksDrift(ab(clean), "v")))
    assert(one(Profile.tvdDrift(ab(withNulls), "v")) ==
      one(Profile.tvdDrift(ab(clean), "v")))
    // and solo ≡ steady on the SAME nullful input (the ADVICE claim)
    val ref = Profile.distCounts(
      withNulls.filter(col("s") === "A"), "v")
    val steady = Profile.ksDrift(Profile.refProbeCounts(ref,
      Profile.distCounts(withNulls.filter(col("s") === "B"), "v"), "v"),
      "v")
    assert(one(steady) ==
      one(Profile.ksDrift(ab(withNulls), "v")))
  }

  test("steady-state quartet: U/W1/CvM/TVD against a persisted " +
      "reference frame ≡ the in-query solo forms (VERDICT r12 #4)") {
    val rows = (1L to 35L).map(v => (v, "A")) ++
      (16L to 50L).map(v => (v, "B"))
    val df = rows.toDF("v", "s").repartition(5)
    val ref = Profile.distCounts(df.filter(col("s") === "A"), "v")
    val probe = df.filter(col("s") === "B").select(col("v"))
    def one(d: org.apache.spark.sql.DataFrame) = d.collect().head.toSeq
    val merged = Profile.refProbeCounts(ref, Profile.distCounts(probe, "v"),
      "v")
    assert(one(Profile.mannWhitneyU(merged, "v")) ==
      one(Profile.mannWhitneyU(ab(df), "v")))
    assert(one(Profile.emdDrift(merged, "v")) ==
      one(Profile.emdDrift(ab(df), "v")))
    assert(one(Profile.cvmDrift(merged, "v")) ==
      one(Profile.cvmDrift(ab(df), "v")))
    assert(one(Profile.tvdDrift(merged, "v")) ==
      one(Profile.tvdDrift(ab(df), "v")))
    // the one-call monitor report ≡ the in-query report
    val obs = probe.groupBy(col("v"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("ref_n"))
    val repSteady = Profile.driftReport(Profile.refProbeCounts(ref, obs,
        "v"), "v")
      .collect().map(r => (r.getString(0), r.toSeq.tail)).toMap
    val repSolo = Profile.driftReport(ab(df), "v")
      .collect().map(r => (r.getString(0), r.toSeq.tail)).toMap
    assert(repSteady == repSolo)
  }

  test("KEYED steady drift report: driftReportByAgainstRef on a " +
      "persisted distCountsBy reference ≡ the in-query " +
      "driftReportBy, incl. one-sided-group drop") {
    // g1/g2 two-sided; g3 ref-only, g4 probe-only (both must drop)
    val rows = (1L to 30L).map(v => ("g1", v, "A")) ++
      (11L to 40L).map(v => ("g1", v, "B")) ++
      (5L to 25L).map(v => ("g2", v * 2, "A")) ++
      (15L to 35L).map(v => ("g2", v * 2 + 1, "B")) ++
      (1L to 10L).map(v => ("g3", v, "A")) ++
      (1L to 10L).map(v => ("g4", v, "B"))
    val df = rows.toDF("g", "v", "s").repartition(6)
    val ref = Profile.distCounts(df.filter(col("s") === "A"), "v",
      Some("g"))
    val probe = df.filter(col("s") === "B").select(col("g"), col("v"))
    val merged = Profile.refProbeCounts(ref,
      Profile.distCounts(probe, "v", Some("g")), "v", Some("g"))
    val (steady, inQuery) = withConf(ShufflePartitions -> "3") {
      (Profile.driftReport(merged, "v", Some("g"))
        .collect().map(r => ((r.getString(0), r.getString(1)),
          r.toSeq.drop(2))).toMap,
       Profile.driftReport(ab(df, Some("g")), "v", Some("g"))
        .collect().map(r => ((r.getString(0), r.getString(1)),
          r.toSeq.drop(2))).toMap)
    }
    assert(steady == inQuery)
    assert(steady.keySet.map(_._2) == Set("g1", "g2")) // one-sided drop
    // the categorical keyed steady form rides the same merge
    val tvdSteady = Profile.tvdDrift(merged, "v", Some("g"))
      .collect().map(r => (r.getString(0), r.toSeq.tail)).toMap
    val tvdInQuery = Profile.tvdDrift(ab(df, Some("g")), "v", Some("g"))
      .collect().map(r => (r.getString(0), r.toSeq.tail)).toMap
    assert(tvdSteady == tvdInQuery)
    assert(tvdSteady.keySet == Set("g1", "g2"))
  }

  test("contingencyProfile: exactly-independent product frame → " +
      "all-zero deviations; planted dependence localized to its " +
      "cells; nulls excluded") {
    // product frame: count(a, b) = f(a)·g(b) — independence exact
    val prod = for {
      (a, fa) <- Seq(("x", 2), ("y", 3))
      (b, gb) <- Seq(("p", 1), ("q", 4))
      _ <- 1 to fa * gb
    } yield (a, b)
    val zero = Profile.contingencyProfile(prod.toDF("a", "b"), "a", "b")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(6)))).toMap
    assert(zero.size == 4 && zero.values.forall(_._2 == 0L))
    assert(zero(("y", "q")) == ((12L, 0L))) // cnt 3·4 = 12 of n 25
    // planted: c only ever pairs with r — dev concentrates there
    val dep = prod ++ Seq.fill(10)(("c", "r"))
    val out = Profile.contingencyProfile(
        (dep ++ Seq((null, "p"), ("x", null)))
          .toDF("a", "b"), "a", "b")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    // nulls dropped: n = 25 + 10 = 35
    assert(out(("c", "r")) == ((10L, 10L, 10L, 35L,
      35L * 10L - 10L * 10L))) // |35·10 − 10·10| = 250
    // hand-check one product cell against the BigInt definition
    val (cnt, ra, cb, n, dev) = out(("x", "p"))
    assert(dev == (BigInt(n) * cnt - BigInt(ra) * cb).abs.toLong)
  }

  test("associationMap: independent pair → 0, deterministic " +
      "coupling → (n−max_cell)-bounded near-10⁶, all-null pair " +
      "dropped; ≡ BigInt definition") {
    // a ⫫ b (product frame); c = f(a) deterministic; d all null
    val rows = for {
      (a, fa) <- Seq(("x", 2), ("y", 3)); (b, gb) <- Seq(("p", 1), ("q", 4))
      _ <- 1 to fa * gb
    } yield (a, b, if (a == "x") "cx" else "cy",
      null.asInstanceOf[String])
    val df = rows.toDF("a", "b", "c", "d")
    val out = Profile.associationMap(df, Seq("a", "b", "c", "d"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    // the three pairs involving the all-null d drop entirely
    // (association undefined; aligns with contingencyProfile and any
    // GROUP-BY-generated oracle)
    assert(out.size == 3)
    assert(!out.keySet.exists(p => p._1 == "d" || p._2 == "d"))
    assert(out(("a", "b")) == ((25L, 4L, Some(0L)))) // independent
    // c determines a and vice versa: TVD(joint, product) =
    // Σ|n·cnt − ra·cb|/(2n²); cells (x,cx)=10, (y,cy)=15 →
    // |25·10−10·10|/.. = (150+150)/(2·625)·1e6 = 240000... compute:
    val expAC = (BigInt(1000000) *
      (((BigInt(25) * 10 - 10 * 10).abs) +
        ((BigInt(25) * 15 - 15 * 15).abs))) / (2 * BigInt(25) * 25)
    assert(out(("a", "c")) == ((25L, 2L, Some(expAC.toLong))))
  }

  test("profileDiff: added/removed/common status, count pairs, " +
      "null-safe min/max changed flags") {
    val ref = (1L to 50L).map(v => (v, if (v % 5 == 0) null
      else s"s${v % 7}")).toDF("id", "tag")
    val cur = ((1L to 80L).map(v => (v, v % 3)) :+
      ((81L, 99L))).toDF("id", "bucket")
    val refP = Profile.profile(ref, Seq("id", "tag"))
    val out = Profile.profileDiffProfiles(refP,
        Profile.profile(cur, Seq("id", "bucket")))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
          r.getLong(9))).toMap
    // id common: n 50→81, distinct 50→81; min/max compute on the
    // LONG column then cast, so min_s "1" both (unchanged) and
    // max_s "50"→"81" (changed)
    assert(out("id") == (("common", 50L, 81L, 50L, 81L, 50L, 81L,
      0L, 1L)))
    // tag removed: cur lanes zero-filled, strings null-safe →
    // min/max changed (value vs null IS DISTINCT)
    val t = out("tag")
    assert(t._1 == "removed" && t._3 == 0L && t._8 == 1L &&
      t._9 == 1L)
    // nonnull on the ref side: 10 of 50 tags are null
    assert(t._4 == 40L)
    // bucket added: ref lanes zero-filled
    val b = out("bucket")
    assert(b._1 == "added" && b._2 == 0L && b._5 == 81L)
    // identical profiles diff to all-common, zero changed flags
    val same = Profile.profileDiffProfiles(refP, refP)
      .collect().map(r => (r.getString(1), r.getLong(8),
        r.getLong(9))).toSeq
    assert(same.forall(_ == (("common", 0L, 0L))))
    // the 100× path: the diff composes with the APPROX provider
    // (n_distinct_est renamed; same provider both sides) — exact
    // count lanes match the exact provider's, self-diff is quiet
    def approxP(df: org.apache.spark.sql.DataFrame,
        cols: Seq[String]) =
      Profile.profileApprox(df, cols, portable = true)
        .withColumnRenamed("n_distinct_est", "n_distinct")
    val aDiff = Profile.profileDiffProfiles(
        approxP(ref, Seq("id", "tag")),
        approxP(cur, Seq("id", "bucket")))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(aDiff("id") == (("common", 50L, 81L, 50L, 81L)))
    assert(aDiff("tag")._1 == "removed" &&
      aDiff("bucket")._1 == "added")
    val aSame = Profile.profileDiffProfiles(
        approxP(ref, Seq("id", "tag")), approxP(ref, Seq("id", "tag")))
      .collect().map(r => (r.getString(1), r.getLong(8),
        r.getLong(9))).toSeq
    assert(aSame.forall(_ == (("common", 0L, 0L))))
  }

  test("driftReport rows ≡ the four solo statistics on the same frame") {
    val rows = (1L to 40L).map(v => (v, "A")) ++
      (21L to 60L).map(v => (v, "B"))
    val df = rows.toDF("v", "s").repartition(7)
    withConf(ShufflePartitions -> "3") {
      val rep = Profile.driftReport(ab(df), "v")
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      assert(rep.keySet == Set("ks", "u", "w1", "cvm"))
      val ks = Profile.ksDrift(ab(df), "v").collect().head
      assert(rep("ks") == (ks.getLong(0), ks.getLong(1), ks.getLong(3)))
      val u = Profile.mannWhitneyU(ab(df), "v").collect().head
      assert(rep("u") == (u.getLong(0), u.getLong(1), u.getLong(3)))
      val w1 = Profile.emdDrift(ab(df), "v").collect().head
      assert(rep("w1") == (w1.getLong(0), w1.getLong(1), w1.getLong(3)))
      val cvm = Profile.cvmDrift(ab(df), "v").collect().head
      assert(rep("cvm") == (cvm.getLong(0), cvm.getLong(1),
        cvm.getLong(2)))
    }
  }

  test("driftReportBy rows ≡ the four keyed statistics") {
    val rows =
      (1L to 40L).map(v => ("g1", v, "A")) ++
      (21L to 60L).map(v => ("g1", v, "B")) ++
      (1L to 30L).flatMap(v => Seq(("g2", v, "A"), ("g2", v, "B")))
    val df = rows.toDF("g", "v", "s").repartition(7)
    withConf(ShufflePartitions -> "3") {
      val rep = Profile.driftReport(ab(df, Some("g")), "v", Some("g"))
        .collect().map(r => ((r.getString(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(rep.keySet.map(_._1) == Set("ks", "u", "w1", "cvm"))
      val ks = Profile.ksDrift(ab(df, Some("g")), "v", Some("g"))
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(4)))).toMap
      for ((g, v) <- ks) assert(rep(("ks", g)) == v)
      val cvm = Profile.cvmDrift(ab(df, Some("g")), "v", Some("g"))
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      for ((g, v) <- cvm) assert(rep(("cvm", g)) == v)
      assert(rep(("cvm", "g2"))._3 == 0L) // identical samples
    }
  }

  test("cvmDriftBy: per-group ≡ the solo op per slice; one-sample " +
      "groups dropped") {
    val rows =
      (1L to 40L).map(v => ("g1", v, "A")) ++
      (21L to 60L).map(v => ("g1", v, "B")) ++
      (1L to 30L).map(v => ("g2", v, "A")) ++
      (1L to 30L).map(v => ("g2", v, "B")) ++
      (1L to 9L).map(v => ("g3", v, "A")) // no B sample → dropped
    val df = rows.toDF("g", "v", "s").repartition(7)
    withConf(ShufflePartitions -> "3") {
      val out = Profile.cvmDrift(ab(df, Some("g")), "v", Some("g"))
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      assert(out.keySet == Set("g1", "g2"))
      assert(out("g2")._3 == 0L) // identical samples: no drift
      for (g <- Seq("g1", "g2")) {
        val solo = Profile.cvmDrift(ab(df.filter(col("g") === g)), "v")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .head
        assert(out(g) == solo, s"group $g disagrees with the solo op")
      }
    }
  }

  test("binnedTvdDrift: identical → zero devs, hand-computed shift, " +
      "duplicate boundaries skip buckets deterministically") {
    def run(rows: Seq[(Long, Long, String)], k: Int = 10) =
      withConf(ShufflePartitions -> "3") {
        Profile.binnedTvdDrift(rows.toDF("v", "id", "s"), "v", "id",
            "s", "A", "B", k)
          .orderBy(col("bucket"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
      }
    val refA = (1L to 100L).map(v => (v, v, "A"))
    // identical: every bucket 10/10, dev 0
    val same = run(refA ++ (1L to 100L).map(v => (v, 1000 + v, "B")))
    assert(same == (1 to 10).map(b => (b.toLong, 10L, 10L, 0L)))
    // B = 51..150: mass drains from buckets 1-5 into bucket 10
    val shifted = run(refA ++ (51L to 150L).map(v => (v, 1000 + v, "B")))
    assert(shifted == ((1 to 5).map(b => (b.toLong, 10L, 0L, 1000L)) ++
      (6 to 9).map(b => (b.toLong, 10L, 10L, 0L)) :+ (10L, 10L, 60L, 5000L)))
    // duplicate boundaries (ref = 50×1 ++ 50×2 → deciles
    // [1,1,1,1,1,2,2,2,2]): value 1 → bucket 1, 2 → 6, 3 → 10;
    // intermediate buckets are skipped, not smeared
    val dup = run((1L to 50L).map(i => (1L, i, "A")) ++
      (51L to 100L).map(i => (2L, i, "A")) :+ (3L, 999L, "B"))
    assert(dup == Seq((1L, 50L, 0L, 50L), (6L, 50L, 0L, 50L),
      (10L, 0L, 1L, 100L)))
  }

  test("binnedTvdDriftAgainstRef ≡ in-query binnedTvdDrift, incl. " +
      "buckets where only one side has mass") {
    val rows = (1L to 100L).map(v => (v, v, "A")) ++
      (51L to 150L).map(v => (v, 1000 + v, "B"))
    val df = rows.toDF("v", "id", "s").repartition(7)
    val ref = df.filter(col("s") === "A").select(col("v"), col("id"))
    val (inQuery, bnds) = withConf(ShufflePartitions -> "3") {
      (Profile.binnedTvdDrift(df, "v", "id", "s", "A", "B", 10)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap,
       Profile.binnedRefBoundaries(ref, "v", "id", 10))
    }
    // reference bucket masses: bucket the ref against its own
    // boundaries with zero opposing mass and read the cb lane
    val zero = Seq.empty[(Long, Long)].toDF("bucket", "ref_n")
    val counts = Profile.binnedTvdDriftAgainstRef(bnds, zero,
        ref.select(col("v")), "v", 10)
      .select(col("bucket"), col("cb").as("ref_n"))
    val steady = Profile.binnedTvdDriftAgainstRef(bnds, counts,
        df.filter(col("s") === "B").select(col("v")), "v", 10)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(steady == inQuery)
  }

  test("ksDriftAgainstRef ≡ ksDrift on the union, incl. ref-only " +
      "and probe-only values (zero-fill lanes)") {
    // ref = {1..40}, probe = {21..60}: values 1-20 are ref-only,
    // 41-60 probe-only — both zero-fill lanes of the outer join fire
    val ref = (1L to 40L).map(v => (v, "A"))
    val probe = (21L to 60L).map(v => (v, "B"))
    val both = (ref ++ probe).toDF("v", "s").repartition(7)
    val refCounts = Profile.distCounts(
      both.filter(col("s") === "A").select(col("v")), "v")
    withConf(ShufflePartitions -> "3") {
      val inQuery = Profile.ksDrift(ab(both), "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).head
      val steady = Profile.ksDrift(Profile.refProbeCounts(refCounts,
          Profile.distCounts(both.filter(col("s") === "B"), "v"), "v"),
          "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).head
      assert(steady == inQuery)
    }
  }

  test("tvdDrift: identical → 0, disjoint → 10⁶, hand-computed mix; " +
      "tvdDriftBy ≡ solo per group + one-sample drop") {
    def tvd(rows: Seq[(String, String)]) =
      Profile.tvdDrift(ab(rows.toDF("v", "s")), "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).head
    // identical category mix: TVD = 0
    val same = Seq("x", "x", "y", "z").flatMap(v => Seq((v, "A"), (v, "B")))
    assert(tvd(same) == (4L, 4L, 0L, 0L))
    // disjoint supports: TVD = 1 → 10⁶ micros
    // (x: |1·1−0·2| + y: 1 + z: |0−1·2| = 4; 4/(2·2·1) = 1)
    val disj = Seq(("x", "A"), ("y", "A"), ("z", "B"))
    assert(tvd(disj) == (2L, 1L, 4L, 1000000L))
    // hand case: A = {x, x, y}, B = {x, z}:
    // |2·2−1·3| + |1·2−0·3| + |0·2−1·3| = 1+2+3 = 6; 6/(2·3·2) = 1/2
    val mix = Seq(("x", "A"), ("x", "A"), ("y", "A"), ("x", "B"), ("z", "B"))
    assert(tvd(mix) == (3L, 2L, 6L, 500000L))
    // by-group ≡ solo per slice; one-sample group dropped
    val rows =
      Seq("x", "x", "y").map(v => ("g1", v, "A")) ++
      Seq("x", "z").map(v => ("g1", v, "B")) ++
      Seq("x", "y").flatMap(v => Seq(("g2", v, "A"), ("g2", v, "B"))) ++
      Seq(("g3", "x", "B")) // no A sample → dropped
    val df = rows.toDF("g", "v", "s").repartition(5)
    val out = Profile.tvdDrift(ab(df, Some("g")), "v", Some("g"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet == Set("g1", "g2"))
    assert(out("g1") == (3L, 2L, 6L, 500000L))
    assert(out("g2") == (2L, 2L, 0L, 0L))
  }

  test("emdDriftBy: per-group values match the solo op per slice; " +
      "one-sample groups dropped") {
    val rows =
      (1L to 40L).map(v => ("g1", v, "A")) ++
      (21L to 60L).map(v => ("g1", v, "B")) ++
      (1L to 30L).map(v => ("g2", v, "A")) ++
      (8L to 37L).map(v => ("g2", v, "B")) ++ // shift by 7
      (1L to 9L).map(v => ("g3", v, "A")) // no B sample → dropped
    val df = rows.toDF("g", "v", "s").repartition(7)
    withConf(ShufflePartitions -> "3") {
      val out = Profile.emdDrift(ab(df, Some("g")), "v", Some("g"))
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))).toMap
      assert(out.keySet == Set("g1", "g2"))
      assert(out("g2")._4 == 7000000L) // the shift reads exactly
      for (g <- Seq("g1", "g2")) {
        val solo = Profile.emdDrift(ab(df.filter(col("g") === g)), "v")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).head
        assert(out(g) == solo, s"group $g disagrees with the solo op")
      }
    }
  }

  test("emdDrift: identical → 0, constant shift → exactly the " +
      "shift, and a hand-computed mixed case") {
    def emd(rows: Seq[(Long, String)]) =
      withConf(ShufflePartitions -> "3") {
        Profile.emdDrift(ab(rows.toDF("v", "s")), "v")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).head
      }
    // identical distributions: W1 = 0
    val same = (1L to 50L).flatMap(i => Seq((i, "A"), (i, "B")))
    assert(emd(same) == (50L, 50L, 0L, 0L))
    // B = A + 7 (constant shift): W1 = exactly 7 value units —
    // the property KS cannot see (its D saturates regardless of
    // shift size)
    val shift = (1L to 30L).map((_, "A")) ++ (8L to 37L).map((_, "B"))
    val s = emd(shift)
    assert(s._4 == 7000000L, s.toString)
    // hand case: A = {0, 10}, B = {0, 20}: |F1-F2| = 1/2 on [10,20)
    // → W1 = 5 → 5e6 micros; emd_num = |i·n2 − j·n1| sums
    val mixed = Seq((0L, "A"), (10L, "A"), (0L, "B"), (20L, "B"))
    assert(emd(mixed) == (2L, 2L, 20L, 5000000L))
  }

  test("profile: one scan for all columns") {
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("a", "b")
    val plan = Profile.profile(df, Seq("a", "b"))
      .queryExecution.optimizedPlan
    // all aggregates fold into one pass over one relation — profiling
    // N columns must not scan the table N times
    val scans = plan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r
      case r if r.getClass.getSimpleName.contains("Relation") => r
    }
    assert(scans.size == 1, s"expected 1 scan, got ${scans.size}:\n$plan")
  }

  test("aucExact: separable → 10⁶, random-ish ≡ pairwise BigInt " +
      "reference incl. ties, reversed → complement") {
    // perfectly separable: every pos score > every neg score
    val sep = (1 to 20).map(i => (i + 100L, true)) ++
      (1 to 20).map(i => (i.toLong, false))
    val a1 = Profile.aucExact(sep.toDF("score", "lbl"), "score",
      "lbl").collect().head
    assert(a1.getLong(0) == 20 && a1.getLong(1) == 20 &&
      a1.getLong(3) == 1000000L)
    // noisy with ties: compare to the pairwise definition
    val noisy = (1 to 80).map { i =>
      val s = (math.abs(s"auc$i".hashCode) % 10).toLong
      (s, i % 3 == 0)
    }
    val got = Profile.aucExact(noisy.toDF("score", "lbl"), "score",
      "lbl").collect().head
    val pos = noisy.filter(_._2).map(_._1)
    val neg = noisy.filterNot(_._2).map(_._1)
    val u2 = (for (p <- pos; q <- neg) yield
      if (p > q) 2L else if (p == q) 1L else 0L).sum
    val want = BigInt(1000000) * u2 / (2L * pos.size * neg.size)
    assert(got.getLong(2) == u2 && got.getLong(3) == want.toLong)
    // label flip → AUC of the flipped problem (ties keep it from
    // being an exact complement only when u2 is odd — check exactly)
    val flip = Profile.aucExact(
      noisy.map(r => (r._1, !r._2)).toDF("score", "lbl"),
      "score", "lbl").collect().head
    assert(flip.getLong(2) == 2L * pos.size * neg.size - u2)
  }

  test("aucExactBy: per-group AUC independent; one-class group " +
      "drops; matches solo per slice") {
    val rows =
      (1 to 10).map(i => ("g1", i + 100L, true)) ++   // separable
      (1 to 10).map(i => ("g1", i.toLong, false)) ++
      (1 to 10).map(i => ("g2", i.toLong, true)) ++   // reversed
      (1 to 10).map(i => ("g2", i + 100L, false)) ++
      (1 to 5).map(i => ("g3", i.toLong, true))       // one-class
    val out = Profile.aucExactBy(rows.toDF("g", "s", "l"),
        "g", "s", "l")
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(out == Map("g1" -> 1000000L, "g2" -> 0L))
    // keyed ≡ solo per slice on a noisy group
    val noisy = (1 to 60).map(i =>
      ("gn", (math.abs(s"ab$i".hashCode) % 9).toLong, i % 4 == 0))
    val solo = Profile.aucExact(
      noisy.map(r => (r._2, r._3)).toDF("s", "l"), "s", "l")
      .collect().head.getLong(3)
    val keyed = Profile.aucExactBy(noisy.toDF("g", "s", "l"),
      "g", "s", "l").collect().head.getLong(4)
    assert(keyed == solo)
  }

  test("aucExact/aucExactBy exclude null labels (family contract, " +
      "not silent negatives)") {
    // the eval-family contract: confusionAt/thresholdSweep/calibration
    // drop null labels; AUC must too — a null label is "unlabeled",
    // not a negative example
    val labeled = (1 to 30).map(i =>
      ((math.abs(s"nl$i".hashCode) % 7).toLong,
        java.lang.Boolean.valueOf(i % 3 == 0)))
    val withNulls = labeled ++
      (1 to 10).map(i => ((i % 7).toLong, null: java.lang.Boolean))
    val clean = Profile.aucExact(labeled.toDF("s", "l"), "s", "l")
      .collect().head
    val dirty = Profile.aucExact(withNulls.toDF("s", "l"), "s", "l")
      .collect().head
    assert(dirty == clean, "null-labeled rows changed the AUC frame")
    val cleanBy = Profile.aucExactBy(
      labeled.map(r => ("g", r._1, r._2)).toDF("g", "s", "l"),
      "g", "s", "l").collect().head
    val dirtyBy = Profile.aucExactBy(
      withNulls.map(r => ("g", r._1, r._2)).toDF("g", "s", "l"),
      "g", "s", "l").collect().head
    assert(dirtyBy == cleanBy)
  }

  test("associationMap drops a pair with no both-non-null rows " +
      "(contingencyProfile-consistent)") {
    val df = Seq(
      ("x", null: String, "k"),
      ("y", null: String, "k"),
      ("x", null: String, "m")).toDF("a", "b", "c")
    val out = Profile.associationMap(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // (a,b) and (b,c) have zero both-non-null rows -> no row at all
    assert(out == Set(("a", "c")))
  }

  test("isotonicCalibration ≡ rational-arithmetic PAVA; monotone; " +
      "already-monotone input is identity") {
    // adversarial label mix: rates wiggle across score bins
    val rows = (1 to 400).map { i =>
      val pos = (math.abs(s"iso$i".hashCode) % 100) <
        (if ((i / 40) % 3 == 0) 70 else 20 + (i / 40) * 5)
      (i.toLong * 3 % 997, i.toLong, pos)
    }.toDF("score", "id", "lbl")
    val got = Profile.isotonicCalibration(rows, "score", "id", "lbl",
        bins = 8)
      .orderBy("bin").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4)))
    // JVM PAVA over the same bins with exact rational pooling
    case class Block(var s: BigInt, var n: BigInt)
    val blocks = scala.collection.mutable.ArrayBuffer[Block]()
    got.foreach { case (n, p, _) =>
      blocks += Block(BigInt(p), BigInt(n))
      while (blocks.length > 1 && {
        val a = blocks(blocks.length - 2); val b = blocks.last
        a.s * b.n > b.s * a.n // violator: earlier mean > later
      }) {
        val b = blocks.remove(blocks.length - 1)
        blocks.last.s += b.s; blocks.last.n += b.n
      }
    }
    // expand PAVA blocks back to per-bin fitted micros
    val fitted = scala.collection.mutable.ArrayBuffer[Long]()
    var idx = 0
    blocks.foreach { b =>
      var cnt = 0L
      while (cnt < b.n.toLong && idx < got.length) {
        cnt += got(idx)._1; idx += 1
        fitted += (BigInt(1000000) * b.s / b.n).toLong
      }
    }
    assert(got.map(_._3).toSeq == fitted.toSeq)
    assert(got.map(_._3).toSeq == got.map(_._3).toSeq.sorted)
    // already-monotone rates pass through unchanged
    val mono = (1 to 160).map(i =>
      (i.toLong, i.toLong, (i % 100) < (i * 100 / 200) + 1))
      .toDF("score", "id", "lbl")
    val m = Profile.isotonicCalibration(mono, "score", "id", "lbl",
        bins = 4)
      .orderBy("bin").collect()
    if (m.map(_.getLong(3)).toSeq == m.map(_.getLong(3)).toSeq.sorted)
      assert(m.forall(r => r.getLong(3) == r.getLong(4)))
  }

  test("nullPatternProfile: joint missingness counted per bitmask; " +
      "all-present and all-null lanes; n_nulls consistent") {
    val df = Seq(
      (Some(1), Some("x")), (Some(2), Some("y")),
      (Some(3), None), (None, Some("z")), (None, None))
      .toDF("a", "b")
    val out = Profile.nullPatternProfile(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getInt(2))).toMap
    assert(out == Map(
      "00" -> ((2L, 0)), "01" -> ((1L, 1)),
      "10" -> ((1L, 1)), "11" -> ((1L, 2))))
  }

  test("rankingEval: hand-checked metrics — partial hit, perfect " +
      "ranking, zero-hit list, unjudged query drops") {
    val ranked = Seq(
      ("qa", 1L, 1), ("qa", 2L, 2), ("qa", 3L, 3), ("qa", 4L, 4),
      ("qb", 1L, 1), ("qb", 2L, 2),
      ("qc", 1L, 1), ("qc", 2L, 2),
      ("qd", 1L, 1)) // qd has no positive judgments -> drops
      .toDF("q", "doc", "rank")
    val rels = Seq(
      ("qa", 2L, 2L), ("qa", 4L, 1L), ("qa", 9L, 1L), // doc9 unranked
      ("qb", 1L, 2L), ("qb", 2L, 1L),
      ("qc", 8L, 1L)) // qc's only relevant doc never ranked
      .toDF("q", "doc", "rel")
    val out = Profile.rankingEval(ranked, rels, "q", "doc", "rank",
        "rel", k = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("qa", "qb", "qc"))
    val d = Profile.ndcgDiscountMicro
    // qa: top3 = docs 1,2,3; only doc2 (rel 2) hits at rank 2
    val a = out("qa")
    assert(a.getLong(1) == 3L && a.getLong(2) == 1L) // n_rel, hits
    assert(a.getLong(3) == 500000L && a.getLong(4) == 333333L)
    assert(a.getLong(5) == 333333L) // recall: 1 of 3
    val dcgA = 2L * d(1)
    val idcgA = 2L * d(0) + 1L * d(1) + 1L * d(2)
    assert(a.getLong(6) == dcgA && a.getLong(7) == idcgA)
    assert(a.getLong(8) ==
      (BigInt(1000000) * dcgA / idcgA).toLong)
    // qb: the ranking IS the ideal -> ndcg exactly 10⁶, rr 10⁶
    val b = out("qb")
    assert(b.getLong(3) == 1000000L && b.getLong(8) == 1000000L)
    assert(b.getLong(6) == b.getLong(7))
    // qc: judged but nothing relevant ranked -> all-zero rates
    val c = out("qc")
    assert(c.getLong(2) == 0L && c.getLong(3) == 0L &&
      c.getLong(4) == 0L && c.getLong(5) == 0L && c.getLong(8) == 0L)
  }

  test("thresholdSweep: hand-checked curve rows; confusionAt is one " +
      "row of the table; endpoints correct") {
    val rows = Seq((10L, true), (9L, true), (8L, false), (3L, true),
      (2L, false), (1L, false))
    val out = Profile.thresholdSweep(rows.toDF("s", "l"), "s", "l")
      .orderBy(col("threshold").desc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.length == 6)
    assert(out.head == ((10L, 1L, 0L, 2L, 3L, 1000000L)))
    // the threshold-8 row equals confusionAt(8)
    val at8 = out.find(_._1 == 8L).get
    assert((at8._2, at8._3, at8._4, at8._5) == ((2L, 1L, 1L, 2L)))
    assert(at8._6 == 666666L)
    // last row predicts everything: tp = all pos, fp = all neg
    assert(out.last == ((1L, 3L, 3L, 0L, 0L, 500000L)))
  }

  test("confusionAt: counts and exact P/R/F1, null when undefined") {
    val rows = Seq((10L, true), (9L, true), (8L, false), (3L, true),
      (2L, false), (1L, false))
    val c = Profile.confusionAt(rows.toDF("s", "l"), "s", "l", 8L)
      .collect().head
    // tp=2 fp=1 fn=1 tn=2; P=2/3, R=2/3, F1=2/3
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ==
      ((2L, 1L, 1L, 2L)))
    assert(c.getLong(4) == 666666L && c.getLong(5) == 666666L &&
      c.getLong(6) == 666666L)
    // threshold above all scores: no predictions → precision null
    val hi = Profile.confusionAt(rows.toDF("s", "l"), "s", "l", 99L)
      .collect().head
    assert(hi.isNullAt(4) && !hi.isNullAt(5))
    // no true positives, one false positive: recall null (no actual
    // positives), F1 defined and 0 (its denominator counts the fp)
    val nop = Profile.confusionAt(
      Seq((5L, false), (1L, false)).toDF("s", "l"), "s", "l", 3L)
      .collect().head
    assert(nop.isNullAt(5) && nop.getLong(6) == 0L &&
      nop.getLong(1) == 1L)
    // all true negatives: every rate undefined → null
    val tnOnly = Profile.confusionAt(
      Seq((1L, false)).toDF("s", "l"), "s", "l", 3L)
      .collect().head
    assert(tnOnly.isNullAt(4) && tnOnly.isNullAt(5) &&
      tnOnly.isNullAt(6) && tnOnly.getLong(3) == 1L)
  }

  test("calibrationTable: ntile fill rule, monotone envelope, " +
      "planted calibrated score recovers its rates") {
    // 25 rows, 4 bins → sizes 7,6,6,6; score = row index, label
    // true iff index mod 10 < (bin-ish) — plant rising positive rate
    val rows = (1 to 25).map(i => (i.toLong, i.toLong, i > 15))
    val out = Profile.calibrationTable(
        rows.toDF("score", "id", "lbl"), "score", "id", "lbl", 4)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5)))
    assert(out.map(_._2).toSeq == Seq(7L, 6L, 6L, 6L)) // ntile fill
    assert(out.map(_._4).toSeq == Seq(1L, 8L, 14L, 20L))
    assert(out.map(_._5).toSeq == Seq(7L, 13L, 19L, 25L))
    // positives: >15 → bin3 has 16..19 → 4, bin4 all 6
    assert(out.map(_._3).toSeq == Seq(0L, 0L, 4L, 6L))
  }

  test("winsorize: exact percentile bounds, tails clamped, middle " +
      "untouched, per-group isolation") {
    val rows = (1 to 100).map(i => ("g1", i.toLong, i.toLong)) ++
      (1 to 10).map(i => ("g2", (200 + i).toLong, i * 1000L))
    val out = Profile.winsorize(rows.toDF("g", "id", "v"),
        "g", "id", "v", 100000L, 900000L)
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // g1: lo = rank ceil(0.1·100) = 10 → 10; hi = rank 90 → 90
    assert(out(("g1", 5L)) == ((10L, 90L, 10L)))   // floored up
    assert(out(("g1", 95L)) == ((10L, 90L, 90L)))  // capped down
    assert(out(("g1", 50L)) == ((10L, 90L, 50L)))  // untouched
    // g2 bounds are its own: lo = rank 1 → 1000, hi = rank 9 → 9000
    assert(out(("g2", 201L)) == ((1000L, 9000L, 1000L)))
    assert(out(("g2", 210L)) == ((1000L, 9000L, 9000L)))
  }

  test("quantileNormalize: exact transport onto the reference, " +
      "equal-size identity, distribution match after transform") {
    // ref: 10,20,...,100 (n_a=10); probe: 5 rows → ranks 1..5 map to
    // ref ranks ceil(r·10/5) = 2,4,6,8,10 → values 20,40,60,80,100
    val rows = (1 to 10).map(i => ("ref", i.toLong, i * 10L)) ++
      Seq(("pr", 101L, 7L), ("pr", 102L, 3L), ("pr", 103L, 900L),
        ("pr", 104L, 11L), ("pr", 105L, 2L))
    val out = Profile.quantileNormalize(rows.toDF("s", "id", "v"),
        "s", "ref", "pr", "id", "v")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // probe value order: 2(105) < 3(102) < 7(101) < 11(104) < 900(103)
    assert(out(105L) == ((2L, 1L, 20L)))
    assert(out(102L) == ((3L, 2L, 40L)))
    assert(out(101L) == ((7L, 3L, 60L)))
    assert(out(104L) == ((11L, 4L, 80L)))
    assert(out(103L) == ((900L, 5L, 100L)))
    // equal sizes: the transform is rank-for-rank — normalizing the
    // ref onto itself is the identity on values
    val self = (1 to 8).map(i => ("a", i.toLong, i * 7L)) ++
      (1 to 8).map(i => ("b", (50 + i).toLong, i * 7L))
    val idm = Profile.quantileNormalize(self.toDF("s", "id", "v"),
        "s", "a", "b", "id", "v")
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(idm.forall { case (v, vn) => v == vn })
  }

  test("abTest: hand-checked z², degenerate pools null, arm pairs " +
      "once, ≡ double formula") {
    // arm a: 6/10 convert; arm b: 2/10; arm c: 0/10
    val rows = (1 to 10).map(i => ("a", i <= 6)) ++
      (1 to 10).map(i => ("b", i <= 2)) ++
      (1 to 10).map(_ => ("c", false))
    val out = Profile.abTest(rows.toDF("arm", "conv"), "arm", "conv")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7),
          if (r.isNullAt(8)) None else Some(r.getLong(8))))).toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    // (a,b): z² = (6·10−2·10)²·20/(10·10·8·12) = 32000/9600 = 3.333…
    val ab = out(("a", "b"))
    assert(ab == ((10L, 6L, 10L, 2L, 600000L, 200000L,
      Some(3333333L))))
    // double-formula cross-check: p̂ = 0.4 → z² = 0.4²·... matches
    val (p1, p2, n1d, n2d) = (0.6, 0.2, 10.0, 10.0)
    val pool = (6.0 + 2.0) / 20.0
    val z2 = math.pow(p1 - p2, 2) /
      (pool * (1 - pool) * (1 / n1d + 1 / n2d))
    assert(math.abs(ab._7.get / 1e6 - z2) < 1e-5)
    // (b,c) pool nonzero → defined; (a,c): defined; degenerate:
    val deg = Profile.abTest(
        Seq(("x", false), ("y", false)).toDF("arm", "conv"),
        "arm", "conv")
      .collect().head
    assert(deg.isNullAt(8))
  }

  test("qqCompare: hand-checked quantile picks, shift visible in " +
      "diff, other samples excluded") {
    // a = 10..100 by 10 (n=10); b = a + 50; 'junk' must be ignored
    val rows = (1 to 10).map(i => ("a", i.toLong, i * 10L)) ++
      (1 to 10).map(i => ("b", (100 + i).toLong, i * 10L + 50L)) ++
      Seq(("junk", 999L, 100000L))
    val out = Profile.qqCompare(rows.toDF("s", "id", "v"),
        "s", "a", "b", "id", "v", Seq(100000L, 500000L, 1000000L))
      .orderBy("p_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // p10 → rank ceil(0.1·10)=1 → 10 / 60; p50 → rank 5 → 50 / 100;
    // p100 → rank 10 → 100 / 150. diff = −50 everywhere (pure shift)
    assert(out.toSeq == Seq(
      (100000L, 10L, 10L, 10L, 60L, -50L),
      (500000L, 10L, 50L, 10L, 100L, -50L),
      (1000000L, 10L, 100L, 10L, 150L, -50L)))
  }

  test("benfordProfile: sign-strip digits, zero/null excluded, " +
      "zero-filled digits, exact micros, Long.MinValue safe") {
    val df = Seq(Some(1L), Some(19L), Some(2L), Some(-25L),
      Some(300L), Some(0L), None, Some(Long.MinValue))
      .toDF("v")
    val out = Profile.benfordProfile(df, "v").orderBy("digit")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // digits: 1,1,2,2,3,9 (MinValue → 9; 0/null excluded) → n = 6
    assert(out.map(_._2).toSeq ==
      Seq(2L, 2L, 1L, 0L, 0L, 0L, 0L, 0L, 1L))
    assert(out(0)._3 == 333333L &&
      out(0)._5 == 333333L - 301029L)
    assert(out(3) == ((4, 0L, 0L, 96910L, 96910L))) // zero-filled
    assert(out(8)._3 == 166666L &&
      out(8)._5 == 166666L - 45757L)
  }

  test("trendSlope: exact line, negative truncation, zero-variance " +
      "drop, ≡ BigInt reference") {
    // g1: y = 3x + 7 exactly → slope_micro = 3_000_000
    val g1 = (0L to 9L).map(x => ("g1", x, 3 * x + 7))
    // g2: x = (0,1,3), y = (1,1,0) → num = −5, den = 14,
    // 10⁶·(−5)/14 = −357142.857… → TRUNCATE −357142 — the semantic
    // Spark div and DuckDB integer // SHARE on signed operands
    val g2 = Seq(("g2", 0L, 1L), ("g2", 1L, 1L), ("g2", 3L, 0L))
    // g3: zero x-variance → dropped
    val g3 = Seq(("g3", 5L, 1L), ("g3", 5L, 9L))
    val out = Profile.trendSlope(
        (g1 ++ g2 ++ g3).toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out.keySet == Set("g1", "g2"))
    assert(out("g1")._4 == 3000000L)
    assert(out("g2") == ((3L, -5L, 14L, -357142L)))

    // noisy differential
    val noisy = (1 to 120).map { i =>
      ("gn", i.toLong,
        ((math.abs(s"tr$i".hashCode) % 4000) - 1500 + 7 * i).toLong)
    }
    val got = Profile.trendSlope(noisy.toDF("g", "x", "y"),
      "g", "x", "y").collect().head
    val n = BigInt(noisy.size)
    val sx = noisy.map(r => BigInt(r._2)).sum
    val sy = noisy.map(r => BigInt(r._3)).sum
    val sxy = noisy.map(r => BigInt(r._2) * r._3).sum
    val sxx = noisy.map(r => BigInt(r._2) * r._2).sum
    val num = n * sxy - sx * sy; val den = n * sxx - sx * sx
    // BigInt / truncates toward zero — the shared engine semantic
    assert(got.getLong(2) == num.toLong && got.getLong(3) == den.toLong)
    assert(got.getLong(4) == (BigInt(1000000) * num / den).toLong)
  }

  test("skewProfile: hand-checked micros on a planted spectrum") {
    // keys with counts (1, 1, 2, 4): n=8, K=4, ranks asc 1..4,
    // Σr·c = 1+2+6+16 = 25 → gini = 10⁶·(50−5·8)/(4·8) = 312500
    val rows = Seq("a", "b", "c", "c", "d", "d", "d", "d")
    val out = Profile.skewProfile(rows.toDF("k"), "k")
      .collect().head
    assert(out.getLong(0) == 8L && out.getLong(1) == 4L &&
      out.getLong(2) == 4L)
    assert(out.getLong(3) == 500000L)       // top share 4/8
    assert(out.getLong(4) == 2000000L)      // max/mean = 4/(8/4)
    assert(out.getLong(5) == 343750L)       // Σc²/n² = 22/64
    assert(out.getLong(6) == 312500L)
  }

  test("skewProfile: uniform mass → gini 0, max_mean 10⁶; empty → empty") {
    val uni = Seq("a", "a", "b", "b", "c", "c")
    val u = Profile.skewProfile(uni.toDF("k"), "k").collect().head
    assert(u.getLong(6) == 0L && u.getLong(4) == 1000000L &&
      u.getLong(3) == 333333L)
    val e = Profile.skewProfile(
      Seq.empty[String].toDF("k"), "k").collect()
    assert(e.isEmpty)
    // nulls excluded entirely
    val n = Profile.skewProfile(
      Seq(Some("a"), None, Some("a")).toDF("k"), "k").collect().head
    assert(n.getLong(0) == 2L && n.getLong(1) == 1L)
  }

  test("madOutliers: robust to masking, even-n midpoint exact, " +
      "degenerate MAD flags off-median rows") {
    // g1: two huge spikes would inflate σ enough to mask each other
    // under a moment z-score; the median/MAD barely move, both flag.
    val g1 = Seq.tabulate(8)(i => ("g1", i.toLong, 1000L + i)) ++
      Seq(("g1", 100L, 500000L), ("g1", 101L, 400000L))
    val got1 = Profile.madOutliers(
        g1.toDF("g", "id", "v"), "g", "id", "v", 3000000L)
      .collect().map(_.getLong(1)).sorted
    assert(got1.toSeq == Seq(100L, 101L))
    // JVM reference on g1 (even n = 10: med2/mad4 midpoints)
    val vs = g1.map(_._3).sorted
    val med2 = vs(4) + vs(5)
    val d2s = g1.map(r => (r._2, math.abs(2 * r._3 - med2)))
    val ds = d2s.map(_._2).sorted
    val mad4 = ds(4) + ds(5)
    val want = d2s.filter(p => 2 * p._1 * 0 + 2 * p._2 * 1000000L >
      3000000L * mad4).map(_._1).sorted
    assert(got1.toSeq == want)
    // degenerate: >half the group AT the median → MAD = 0, every
    // off-median row flags (documented estimator limit)
    val g2 = Seq(("g2", 1L, 50L), ("g2", 2L, 50L), ("g2", 3L, 50L),
      ("g2", 4L, 51L), ("g2", 5L, 49L))
    val got2 = Profile.madOutliers(
        g2.toDF("g", "id", "v"), "g", "id", "v", 1000000L)
      .collect().map(_.getLong(1)).sorted
    assert(got2.toSeq == Seq(4L, 5L))
  }

  test("madOutliers ≡ BigInt reference on a noisy multi-group frame") {
    val rows = for (g <- 1 to 3; i <- 1 to 41) yield
      (s"g$g", (g * 1000 + i).toLong,
        ((math.abs(s"mo$g-$i".hashCode) % 9000) - 3000).toLong)
    val z = 2500000L
    val got = Profile.madOutliers(
        rows.toDF("g", "id", "v"), "g", "id", "v", z)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      val vs = rs.map(_._3).sorted
      val n = vs.size
      val med2 = vs((n + 1) / 2 - 1) + vs(n / 2)
      val d2 = rs.map(r => (r._2, math.abs(2 * r._3 - med2)))
      val ds = d2.map(_._2).sorted
      val mad4 = ds((n + 1) / 2 - 1) + ds(n / 2)
      d2.filter(p => 2 * p._2 * 1000000L > z * mad4)
        .map(p => (g, p._1))
    }.sorted
    assert(got.toSeq == want)
  }

  test("skewProfile ≡ BigInt rank definition on md5-derived counts") {
    // irregular tied spectrum from a deterministic hash
    val keys = (1 to 400).flatMap { i =>
      val c = (math.abs(s"sk$i".hashCode) % 7) + 1
      Seq.fill(c)(s"sk$i")
    }
    val got = Profile.skewProfile(keys.toDF("k"), "k").collect().head
    val counts = keys.groupBy(identity).values.map(_.size.toLong)
      .toSeq.sorted
    val n = BigInt(counts.sum); val k = BigInt(counts.size)
    val rc = counts.zipWithIndex
      .map { case (c, i) => BigInt(i + 1) * c }.sum
    val sq = counts.map(c => BigInt(c) * c).sum
    assert(got.getLong(5) == (BigInt(1000000) * sq / (n * n)).toLong)
    assert(got.getLong(6) ==
      (BigInt(1000000) * (2 * rc - (k + 1) * n) / (k * n)).toLong)
    assert(got.getLong(3) ==
      (BigInt(1000000) * counts.max / n).toLong)
  }
}
