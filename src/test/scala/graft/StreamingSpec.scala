package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(ts: Timestamp, user_id: Long, value: Double)
case class VRow(id: String, identificatie: String, volgnummer: Int,
  eind_geldigheid: Option[String], naam: String)

/** §2.9: the tumbling-window aggregation in its readStream form —
  * same plan as q19's batch form, driven through a MemoryStream and the
  * memory sink (spark_guide: processAllAvailable for synchronous local
  * smoke). Streaming result must equal the batch result. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("stateful streaming: custom running state via flatMapGroupsWithState") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    val data = (0 until 60).map { i =>
      Ev(Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"), i % 3, i.toDouble)
    }
    val stream = MemoryStream[Ev]
    stream.addData(data)
    // running per-user event count + value sum kept in custom state
    val out = stream.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          evs.foreach { e => n += 1; s += e.value }
          state.update((n, s))
          Iterator((user, n, s))
      }
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("state_out").start()
    q.processAllAvailable()
    // second micro-batch: state must carry over
    stream.addData(data.take(6))
    q.processAllAvailable()
    q.stop()
    val res = spark.table("state_out")
      .groupBy($"_1").agg(max($"_2").as("n"), max($"_3").as("s"))
      .orderBy($"_1").as[(Long, Long, Double)].collect().toSeq
    // 60 events round 1 (20 per user) + 6 more (2 per user)
    assert(res.map(_._2) == Seq(22L, 22L, 22L))
    assert(res.map(_._1) == Seq(0L, 1L, 2L))
  }

  test("streaming CUSUM monitor: carries continue across epochs " +
      "(two-epoch fold == one concatenated fold), untouched entity " +
      "keeps its carry, replayed epoch no-ops") {
    import graft.streaming.StreamingIngest
    import graft.ops.EventAnalytics
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("cusum_monitor").toString
    def t(m: Int) = Timestamp.valueOf(f"2026-04-01 10:${m / 60}%02d:${m % 60}%02d")
    // u1 climbs across BOTH epochs (the carry must bridge them);
    // u3 appears only in epoch 0 (its carry must survive epoch 1)
    val b1 = Seq((1L, 1L, t(1), 9.0), (1L, 2L, t(2), 9.0),
      (3L, 31L, t(1), 9.0))
    val b2 = Seq((1L, 3L, t(3), 9.0), (1L, 4L, t(4), 9.0),
      (2L, 21L, t(3), 1.0))
    // target 5.00, slack 1.00, h 6.00: u1 sp = 300, 600 | 900(alarm),
    // 300 — continuation, NOT a 300,600 restart
    val stream = MemoryStream[(Long, Long, Timestamp, Double)]
    val q = StreamingIngest.cusumMonitor(
      stream.toDS().toDF("user_id", "event_id", "ts", "value"),
      "user_id", "ts", "event_id", "value", 500L, 100L, 600L,
      s"$dir/state", s"$dir/ckpt", s"$dir/monitor")
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    def led(e: Int) = spark.read.parquet(s"$dir/monitor/epoch_$e")
      .select($"user_id", $"event_id", $"s_pos_centi",
        $"s_neg_centi", $"alarm_up")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(led(0) == Set((1L, 1L, 300L, 0L, false),
      (1L, 2L, 600L, 0L, false), (3L, 31L, 300L, 0L, false)))
    assert(led(1) == Set((1L, 3L, 900L, 0L, true),
      (1L, 4L, 300L, 0L, false), (2L, 21L, 0L, 300L, false)))
    // the two-epoch ledgers together == ONE fold over b1 ++ b2
    val full = EventAnalytics.cusumCenti(
        (b1 ++ b2).toDF("user_id", "event_id", "ts", "value"),
        "user_id", "ts", "event_id", "value", 500L, 100L, 600L)
      .select($"user_id", $"event_id", $"s_pos_centi",
        $"s_neg_centi", $"alarm_up")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert((led(0) ++ led(1)) == full)
    // untouched u3 keeps its epoch-0 carry in the committed state
    val st = spark.read.parquet(s"$dir/state/current/state")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    assert(st(3L) == ((300L, 0L)))
    assert(st(1L) == ((300L, 0L))) // post-alarm restart carried
    // replayed last epoch: ledger no-ops, state unchanged
    StreamingIngest.cusumMonitorBatch(
      b2.toDF("user_id", "event_id", "ts", "value"),
      "user_id", "ts", "event_id", "value", 500L, 100L, 600L,
      s"$dir/state", s"$dir/monitor", 1L)
    val st2 = spark.read.parquet(s"$dir/state/current/state")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    assert(st2 == st && led(1).size == 3)
  }

  test("streaming drift monitor: per-epoch four-stat report vs the " +
      "frozen reference == batch ops on the cumulative prefix; " +
      "replayed epoch no-ops") {
    import graft.streaming.StreamingIngest
    import graft.ops.Profile
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("drift_monitor").toString
    // reference: 1..40; stream drifts away from it batch by batch
    val ref = Profile.distCounts((1L to 40L).toDF("v"), "v")
      .cache()
    val b1 = (11L to 50L) // shifted by 10
    val b2 = (31L to 70L) // further out
    val stream = MemoryStream[Long]
    val q = StreamingIngest.driftMonitor(stream.toDS().toDF("v"), "v",
      ref, s"$dir/state", s"$dir/ckpt", s"$dir/monitor")
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    def rep(df: org.apache.spark.sql.DataFrame) = df
      .select($"stat", $"n1", $"n2", $"stat_micro")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val e0 = rep(spark.read.parquet(s"$dir/monitor/epoch_0"))
    val e1 = rep(spark.read.parquet(s"$dir/monitor/epoch_1"))
    assert(e0.keySet == Set("ks", "u", "w1", "cvm"))
    // each epoch's report == the four batch ops on the cumulative
    // prefix (the steady forms are spec-pinned ≡ the solo forms in
    // ProfileSpec, so pinning vs the merged counts pins the whole
    // chain)
    def expect(vs: Seq[Long]) = {
      val c = Profile.refProbeCounts(ref,
        Profile.distCounts(vs.toDF("v"), "v"), "v")
      Map(
        "ks" -> { val r = Profile.ksDrift(c, "v").collect().head
          (r.getLong(0), r.getLong(1), r.getLong(3)) },
        "u" -> { val r = Profile.mannWhitneyU(c, "v").collect().head
          (r.getLong(0), r.getLong(1), r.getLong(3)) },
        "w1" -> { val r = Profile.emdDrift(c, "v").collect().head
          (r.getLong(0), r.getLong(1), r.getLong(3)) },
        "cvm" -> { val r = Profile.cvmDrift(c, "v").collect().head
          (r.getLong(0), r.getLong(1), r.getLong(2)) })
    }
    assert(e0 == expect(b1))
    assert(e1 == expect(b1 ++ b2))
    assert(e1("ks")._3 > e0("ks")._3,
      "the drift must grow as the stream departs")
    // replayed last epoch: the ledger no-ops the merge and the
    // epoch_1 overwrite is byte-idempotent
    StreamingIngest.driftMonitorBatch(b2.toDF("v"), "v", ref,
      s"$dir/state", s"$dir/monitor", 1L)
    assert(rep(spark.read.parquet(s"$dir/monitor/epoch_1")) == e1)
  }

  test("KEYED streaming drift monitor: per-(epoch, segment) report " +
      "vs the frozen per-segment reference == the keyed batch report " +
      "on the cumulative prefix; one-sided segments drop") {
    import graft.streaming.StreamingIngest
    import graft.ops.Profile
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("drift_monitor_by").toString
    // reference: g1 1..40, g2 2..80 even, g3 ref-only (must drop)
    val refRows = (1L to 40L).map(("g1", _)) ++
      (1L to 40L).map(v => ("g2", v * 2)) ++
      (1L to 5L).map(("g3", _))
    val ref = Profile.distCounts(refRows.toDF("g", "v"), "v", Some("g"))
      .cache()
    val b1 = (11L to 50L).map(("g1", _)) ++
      (21L to 60L).map(v => ("g2", v * 2))
    val b2 = (31L to 70L).map(("g1", _)) ++
      (1L to 10L).map(("g4", _)) // g4 probe-only (must drop)
    val stream = MemoryStream[(String, Long)]
    val q = StreamingIngest.driftMonitorBy(
      stream.toDS().toDF("g", "v"), "g", "v", ref,
      s"$dir/state", s"$dir/ckpt", s"$dir/monitor")
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    def rep(df: org.apache.spark.sql.DataFrame) = df
      .select($"stat", $"g", $"n1", $"n2", $"stat_micro")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val e0 = rep(spark.read.parquet(s"$dir/monitor/epoch_0"))
    val e1 = rep(spark.read.parquet(s"$dir/monitor/epoch_1"))
    // epoch 0 saw g1+g2; g3 is ref-only and must not appear
    assert(e0.keySet == Set("ks", "u", "w1", "cvm")
      .flatMap(s => Seq((s, "g1"), (s, "g2"))))
    // epoch 1 added g4 (probe-only) — still only g1/g2 report
    assert(e1.keySet == e0.keySet)
    def expect(vs: Seq[(String, Long)]) =
      rep(Profile.driftReport(Profile.refProbeCounts(ref,
        Profile.distCounts(vs.toDF("g", "v"), "v", Some("g")), "v",
        Some("g")), "v", Some("g")))
    assert(e0 == expect(b1))
    assert(e1 == expect(b1 ++ b2))
    // replayed last epoch: ledger no-ops, overwrite idempotent
    StreamingIngest.driftMonitorByBatch(b2.toDF("g", "v"), "g", "v",
      ref, s"$dir/state", s"$dir/monitor", 1L)
    assert(rep(spark.read.parquet(s"$dir/monitor/epoch_1")) == e1)
  }

  test("streaming quality monitor: each epoch's full rule report " +
      "== check() on that batch ALONE (not cumulative); zeros kept; " +
      "replay overwrite idempotent") {
    import graft.streaming.StreamingIngest
    import graft.ops.Expectations
    import graft.ops.Expectations._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("quality_monitor").toString
    val rules = Seq(
      InRange("v_range", "v", 0L, 100L),
      SizeBetween("big_enough", 5L, 1000L))
    val b1 = (1L to 10L)            // clean, size ok
    val b2 = Seq(150L, 151L, 3L)    // 2 range hits, size shortfall 2
    val stream = MemoryStream[Long]
    val q = StreamingIngest.qualityMonitor(stream.toDS().toDF("v"),
      rules, s"$dir/ckpt", s"$dir/monitor")
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    def rep(p: String) = spark.read.parquet(p)
      .select($"rule", $"violations").as[(String, Long)]
      .collect().toMap
    assert(rep(s"$dir/monitor/epoch_0") ==
      Map("v_range" -> 0L, "big_enough" -> 0L))
    // epoch 1 judged ALONE: 2 out-of-range, size 3 < 5 → 2
    assert(rep(s"$dir/monitor/epoch_1") ==
      Map("v_range" -> 2L, "big_enough" -> 2L))
    // replayed epoch: plain idempotent overwrite
    StreamingIngest.qualityMonitorBatch(b2.toDF("v"), rules,
      s"$dir/monitor", 1L)
    assert(rep(s"$dir/monitor/epoch_1") ==
      Map("v_range" -> 2L, "big_enough" -> 2L))
  }

  test("streaming profile monitor: each epoch's column-shape diff " +
      "vs the blessed profile == profileDiff on that batch alone; " +
      "replay overwrite idempotent") {
    import graft.streaming.StreamingIngest
    import graft.ops.Profile
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("profile_monitor").toString
    val ref = Profile.profile(
      (1L to 40L).map(v => (v, v % 5)).toDF("id", "grp"),
      Seq("id", "grp")).cache(); ref.count()
    val b1 = (1L to 40L).map(v => (v, v % 5))   // shape-identical
    val b2 = (100L to 120L).map(v => (v, v % 2)) // envelope + card jump
    val stream = MemoryStream[(Long, Long)]
    val q = StreamingIngest.profileMonitor(
      stream.toDS().toDF("id", "grp"), ref, Seq("id", "grp"),
      s"$dir/ckpt", s"$dir/monitor")
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    def rep(p: String) = spark.read.parquet(p)
      .select($"col_name", $"n_cur", $"distinct_cur", $"min_changed",
        $"max_changed")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val e0 = rep(s"$dir/monitor/epoch_0")
    assert(e0("id") == ((40L, 40L, 0L, 0L))) // same shape: quiet
    assert(e0("grp") == ((40L, 5L, 0L, 0L)))
    val e1 = rep(s"$dir/monitor/epoch_1") // judged ALONE
    assert(e1("id") == ((21L, 21L, 1L, 1L))) // envelope moved
    assert(e1("grp") == ((21L, 2L, 0L, 1L))) // min 0 kept, max 4→1
    // replayed epoch: plain idempotent overwrite
    StreamingIngest.profileMonitorBatch(b2.toDF("id", "grp"), ref,
      Seq("id", "grp"), s"$dir/monitor", 1L)
    assert(rep(s"$dir/monitor/epoch_1") == e1)
  }

  test("streaming as-of enrich == batch asofJoinSkewSafe under " +
      "in-order delivery; carry survives the batch boundary") {
    import graft.streaming.{AsofEvent, StreamingIngest}
    implicit val sqlCtx = spark.sqlContext
    // quotes at even ords, probes at odd (the batch twin's encoding);
    // key 0 hogs most rows; probes 1..9 precede the first quote
    val evs = (0L until 400L).map { i =>
      val k = i % 3
      if (i % 4 == 0) AsofEvent(k, (i + 10) * 2, isQuote = true,
        value = i, pid = 0L)
      else AsofEvent(k, i * 2 + 1, isQuote = false, value = 0L, pid = i)
    }.sortBy(_.ord)
    val (b1, b2) = evs.splitAt(200) // carry must survive the boundary
    val stream = MemoryStream[AsofEvent]
    val q = StreamingIngest.asofEnrich(stream.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_out").start()
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("asof_out")
      .as[(Long, Long, Option[Long])].collect().toSeq.sorted
    val probes = evs.filter(!_.isQuote)
      .map(e => (e.key, e.ord, e.pid)).toDF("k", "ord", "pid")
    val quotes = evs.filter(_.isQuote)
      .map(e => (e.key, e.ord, e.value)).toDF("k", "ord", "qv")
    // the batch op on these small frames: the small-frame skip, one slice
    val batch = withConf(ShufflePartitions -> "5") {
      graft.ops.EventAnalytics.asofJoinSkewSafe(
          probes, quotes, "k", "ord", "qv", "asof_v")
        .select($"k", $"pid", $"asof_v")
        .as[(Long, Long, Option[Long])].collect().toSeq.sorted
    }
    assert(streamed == batch)
    assert(batch.exists(_._3.isEmpty)) // the pre-first-quote lane ran
  }

  test("streaming tumbling-window counts equal the batch form") {
    implicit val sqlCtx = spark.sqlContext
    val data = (0 until 100).map { i =>
      Ev(Timestamp.valueOf(f"2024-01-01 ${i / 20}%02d:${i % 20}%02d:00"),
        i % 7, i * 1.5)
    }
    val stream = MemoryStream[Ev]
    stream.addData(data)
    val agg = stream.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))
      .select($"w.start".as("h"), $"n", $"v")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("win_out").orderBy($"h")
      .as[(Timestamp, Long, Double)].collect().toSeq
    val batch = data.toDF()
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))
      .select($"w.start".as("h"), $"n", $"v")
      .orderBy($"h").as[(Timestamp, Long, Double)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(_._2).sum == 100)
  }

  test("streaming dedup: dropDuplicatesWithinWatermark drops cross-batch dupes") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val deduped = stream.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "value")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    val e1 = Ev(Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 5.0)
    val e2 = Ev(Timestamp.valueOf("2024-01-01 10:05:00"), 2L, 7.0)
    stream.addData(e1, e2, e1) // in-batch dupe
    q.processAllAvailable()
    stream.addData(e1) // cross-batch dupe, within watermark
    q.processAllAvailable()
    stream.addData(Ev(Timestamp.valueOf("2024-01-01 10:10:00"), 3L, 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_out")
      .select($"user_id", $"value").as[(Long, Double)].collect().sorted
    assert(rows.toSeq == Seq((1L, 5.0), (2L, 7.0), (3L, 9.0)))
  }

  test("stream-stream interval join equals the batch join across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // impressions joined to clicks within [imp.ts, imp.ts + 10 min] on
    // the ad key — both sides watermarked and the time range bounded
    // in BOTH directions, the conditions Spark needs to age join state
    // out instead of buffering streams forever (the 100 TB continuous
    // form of q59's keyless range join)
    val imps = MemoryStream[Ev]   // user_id stands in for ad_id
    val clicks = MemoryStream[Ev]
    val impDf = imps.toDS().toDF("its", "ad", "iv")
      .withWatermark("its", "30 minutes")
    val clkDf = clicks.toDS().toDF("cts", "cad", "cv")
      .withWatermark("cts", "30 minutes")
    val joined = impDf.join(clkDf,
      col("ad") === col("cad") &&
        col("cts") >= col("its") &&
        col("cts") <= col("its") + expr("interval 10 minutes"))
      .select(col("ad"), col("its"), col("cts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    def ev(m: Int, id: Long) =
      Ev(Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), id, 0.0)
    // batch 1: imp for ad 1 at 10:00, clicks at 10:05 (in) and 10:20
    // (outside the 10-min bound); ad 2 click with no impression
    imps.addData(ev(0, 1L))
    clicks.addData(ev(5, 1L), ev(20, 1L), ev(5, 2L))
    q.processAllAvailable()
    // batch 2: the ad-2 impression arrives LATER than its click —
    // within watermark, so the buffered click must still join; plus a
    // fresh in-window pair for ad 3
    imps.addData(ev(0, 2L), ev(10, 3L))
    clicks.addData(ev(12, 3L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_out")
      .select(col("ad"), col("its").cast("string"),
        col("cts").cast("string"))
      .as[(Long, String, String)].collect().toSeq.sorted
    // the batch join over the same union of rows
    val allImps = Seq(ev(0, 1L), ev(0, 2L), ev(10, 3L))
      .toDF("its", "ad", "iv")
    val allClicks = Seq(ev(5, 1L), ev(20, 1L), ev(5, 2L), ev(12, 3L))
      .toDF("cts", "cad", "cv")
    val want = allImps.join(allClicks,
        col("ad") === col("cad") &&
          col("cts") >= col("its") &&
          col("cts") <= col("its") + expr("interval 10 minutes"))
      .select(col("ad"), col("its").cast("string"),
        col("cts").cast("string"))
      .as[(Long, String, String)].collect().toSeq.sorted
    assert(got == want, s"stream $got vs batch $want")
    assert(got.map(_._1) == Seq(1L, 2L, 3L)) // one row per in-window pair
  }

  test("stream-static join: micro-batches enrich against a static dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((0L, "bronze"), (1L, "silver"), (2L, "gold"))
      .toDF("user_id", "tier")
    val stream = MemoryStream[Ev]
    val joined = stream.toDF().join(dim, Seq("user_id"), "left")
      .groupBy($"tier").agg(count(lit(1)).as("n"))
    val q = joined.writeStream.outputMode("complete")
      .format("memory").queryName("ss_join_out").start()
    stream.addData((0 until 30).map(i =>
      Ev(Timestamp.valueOf("2024-01-01 10:00:00"), i % 5, i)))
    q.processAllAvailable()
    q.stop()
    val res = spark.table("ss_join_out")
      .as[(Option[String], Long)].collect().toMap
    // users 0,1,2 hit the dim (6 events each); 3,4 fall out to null tier
    assert(res(Some("bronze")) == 6 && res(Some("gold")) == 6)
    assert(res(None) == 12)
  }

  test("file-source streaming: AvailableNow drains a growing directory once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-filestream").toString
    val src = s"$dir/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    // two "arrivals" before the stream starts
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.mode("append").parquet(src)
    Seq((3L, "c")).toDF("id", "s")
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val counted = spark.readStream.schema(schema).parquet(src)
      .groupBy($"s").agg(count(lit(1)).as("n"))
    val q = counted.writeStream.outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/ckpt")
      .format("memory").queryName("file_out").start()
    q.awaitTermination(60000)
    val total = spark.table("file_out").agg(sum($"n")).as[Long].head()
    assert(total == 3)
  }

  test("streaming SCD2 ingest: incremental merge, replay-idempotent, fail-fast gate") {
    import graft.streaming.StreamingIngest
    import graft.ops.Temporal
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-scd2-stream").toString
    val snap = s"$base/snapshot"
    val ckpt = s"$base/ckpt"

    def gate(b: org.apache.spark.sql.DataFrame): Unit = {
      val dups = Temporal.duplicateOpenVersions(
        b.withColumn("eind_geldigheid", $"eind_geldigheid".cast("date")))
      require(dups.isEmpty, "duplicate open versions in batch")
    }

    val stream = MemoryStream[VRow]
    val q = StreamingIngest.scd2Ingest(stream.toDF(), "id", snap, ckpt, gate)

    stream.addData(
      VRow("A_001", "A", 1, None, "alpha"),
      VRow("B_001", "B", 1, None, "beta"))
    q.processAllAvailable()
    assert(spark.read.parquet(snap).count() == 2)

    // epoch 2: change A, add C — incremental merge
    val delta = Seq(
      VRow("A_001", "A", 1, None, "alpha-renamed"),
      VRow("C_001", "C", 1, None, "gamma"))
    stream.addData(delta: _*)
    q.processAllAvailable()
    // materialize before the next commit: the snapshot swap moves the
    // part files this plan points at
    val after = spark.read.parquet(snap)
      .select($"id", $"naam").as[(String, String)].collect().toSet
    assert(after == Set("A_001" -> "alpha-renamed", "B_001" -> "beta",
      "C_001" -> "gamma"))

    // replay: merging the same delta again changes nothing
    stream.addData(delta: _*)
    q.processAllAvailable()
    q.stop()
    val replayed = spark.read.parquet(snap)
      .select($"id", $"naam").as[(String, String)].collect().toSet
    assert(replayed == after)

    // fail-fast: two open versions of the same key abort the query
    // BEFORE the snapshot is touched
    val q2 = StreamingIngest.scd2Ingest(stream.toDF(), "id", snap, s"$base/ckpt2", gate)
    stream.addData(
      VRow("D_001", "D", 1, None, "d1"),
      VRow("D_002", "D", 2, None, "d2"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(spark.read.parquet(snap).count() == 3) // snapshot unchanged
  }

  test("streaming HLL ingest: streamed registers == batch rebuild " +
      "over everything seen; replayed epoch no-ops") {
    import graft.streaming.StreamingIngest
    import graft.ops.Sketches
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-hll-stream").toString
    val b1 = (0L until 3000L).map(i => s"user_$i")
    val b2 = (1500L until 5000L).map(i => s"user_$i") // overlap
    val stream = MemoryStream[String]
    val q = StreamingIngest.hllIngest(stream.toDS().toDF("k"), "k",
      s"$dir/state", s"$dir/ckpt")
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    def regs(df: org.apache.spark.sql.DataFrame) = df
      .select($"bucket", $"rho_max")
      .as[(Int, Int)].collect().toMap
    val streamed = regs(spark.read.parquet(s"$dir/state/current/state")
      .select($"bucket", $"max_rho".cast("int").as("rho_max")))
    val rebuilt = regs(Sketches.hllRegistersFast(
      (b1 ++ b2).toDF("k"), "k")
      .select($"bucket", $"rho_max".cast("int").as("rho_max")))
    assert(streamed == rebuilt, "streamed state must equal a rebuild")
    // the estimate over the streamed state lands in the m=256 band
    val est = Sketches.hllEstimate(
      spark.read.parquet(s"$dir/state/current/state")
        .select($"bucket", $"max_rho".as("rho_max")))
    assert(math.abs(est - 5000.0) < 5000.0 * 0.25, s"estimate $est")
    // replayed last epoch: ledger no-ops, state unchanged
    StreamingIngest.hllIngestBatch(b2.toDF("k"), "k", s"$dir/state", 1L)
    assert(regs(spark.read.parquet(s"$dir/state/current/state")
      .select($"bucket", $"max_rho".cast("int").as("rho_max")))
      == streamed)
  }

  test("streaming CMS ingest: streamed counters == batch rebuild " +
      "(the additive dual); replayed epoch no-ops") {
    import graft.streaming.StreamingIngest
    import graft.ops.Sketches
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cms-stream").toString
    val b1 = (0L until 2000L).map(i => s"k_${i % 97}")
    val b2 = (0L until 1000L).map(i => s"k_${i % 31}")
    val stream = MemoryStream[String]
    val q = StreamingIngest.cmsIngest(stream.toDS().toDF("k"), "k",
      s"$dir/state", s"$dir/ckpt")
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select($"r".cast("int"), $"pos".cast("int"),
        $"cnt".cast("long"))
      .as[(Int, Int, Long)].collect().toSet
    val streamed = cells(spark.read
      .parquet(s"$dir/state/current/state")
      .select($"r", $"pos", $"sum_cnt".as("cnt")))
    val rebuilt = cells(Sketches.cmsSketchFast((b1 ++ b2).toDF("k"), "k"))
    assert(streamed == rebuilt)
    // replayed last epoch: ledger no-ops
    StreamingIngest.cmsIngestBatch(b2.toDF("k"), "k", s"$dir/state", 1L)
    assert(cells(spark.read.parquet(s"$dir/state/current/state")
      .select($"r", $"pos", $"sum_cnt".as("cnt"))) == streamed)
  }

  test("rule-driven streaming gate: Expectations.requireClean passes " +
      "clean batches and aborts dirty ones before mutation") {
    import graft.streaming.StreamingIngest
    import graft.ops.Expectations
    import graft.ops.Expectations._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft-exp-stream").toString
    val gate = Expectations.requireClean(Seq(
      NotNull("naam_not_null", "naam"),
      Unique("id_unique", Seq("id"))))
    val stream = MemoryStream[VRow]
    val q = StreamingIngest.scd2Ingest(stream.toDF(), "id",
      s"$base/snap", s"$base/ckpt", gate)
    stream.addData(VRow("A_001", "A", 1, None, "alpha"))
    q.processAllAvailable() // clean batch commits
    assert(spark.read.parquet(s"$base/snap").count() == 1)
    // a null payload: the NotNull rule must abort, and the message
    // must NAME the failing rule with its count. (Unique can never
    // fire post-staging — scd2Ingest dedupes per id before the gate —
    // it rides along to show rule composition under streaming.)
    stream.addData(VRow("B_001", "B", 1, None, null))
    val ex = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(ex.getCause != null &&
      String.valueOf(ex.getCause.getMessage).contains("naam_not_null=1"),
      s"failing rule not named: ${ex.getCause}")
    assert(spark.read.parquet(s"$base/snap").count() == 1) // untouched
  }

  test("streaming incremental dedup: indexed epochs match the batch form, replay-safe") {
    import graft.streaming.StreamingIngest
    import graft.ops.Dedup
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-dedup-stream").toString
    val state = s"$base/state"

    val stream = MemoryStream[(Long, String)]
    val q = StreamingIngest.dedupIngest(stream.toDS().toDF("doc_id", "text"),
      "doc_id", "text", k = 3, threshold = 0.5, state, s"$base/ckpt")

    // epoch 1: two distinct docs + a within-batch exact dup of the first
    stream.addData(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "alpha beta gamma delta epsilon zeta"))
    q.processAllAvailable()
    val ids1 = spark.read.parquet(s"$state/current/corpus")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids1 == Set(1L, 2L))

    // epoch 2: corpus exact dup, corpus near-dup, fresh doc, and a
    // within-batch copy of the fresh doc
    val epoch2 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon eta"),
      (12L, "completely different words appear here now"),
      (13L, "completely different words appear here now"))
    stream.addData(epoch2: _*)
    q.processAllAvailable()
    val ids2 = spark.read.parquet(s"$state/current/corpus")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids2 == Set(1L, 2L, 12L))

    // the batch form over the same two deliveries accepts the same docs
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val c1 = Dedup.nearDupDeduplicated(
      Dedup.deduplicated(b1, "doc_id", "text"), "doc_id", "text", 3, 0.5)
    val c2 = c1.unionByName(Dedup.dedupIncrementFull(c1,
      epoch2.toDF("doc_id", "text"), "doc_id", "text", 3, 0.5))
    assert(c2.select($"doc_id").as[Long].collect().toSet == ids2)

    // replay: re-delivering epoch 2 re-accepts nothing
    stream.addData(epoch2: _*)
    q.processAllAvailable()
    q.stop()
    val ids3 = spark.read.parquet(s"$state/current/corpus")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids3 == ids2)

    // the appended index stayed in sync with the committed corpus
    val idx = spark.read.parquet(s"$state/current/index")
    val expect = Dedup.corpusShingleIndex(
      spark.read.parquet(s"$state/current/corpus"), "doc_id", "text", 3)
    assert(idx.exceptAll(expect).count() == 0 &&
      expect.exceptAll(idx).count() == 0)

    // the committed bitmap stayed in sync too: OR-merge over epochs
    // (including the no-op replay) == rebuild from the committed keyset
    val bloom = Dedup.bloomRead(spark, s"$state/current/bloom", 1 << 17)
    assert(bloom.sameElements(Dedup.bloomBuild(
        spark.read.parquet(s"$state/current/keys"), "text", 1 << 17, 5)),
      "committed bitmap != rebuild from committed keys")

    // the committed HLL sketch (fifth frame) stayed in sync: max-merge
    // over epochs (including the no-op replay) == rebuild over the
    // committed keyset, register for register
    import graft.ops.Sketches
    def regsOf(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(regsOf(Sketches.hllRead(spark, s"$state/current/hll")) ==
      regsOf(Sketches.hllRegisters(
        spark.read.parquet(s"$state/current/keys"), "text")),
      "committed HLL registers != rebuild from committed keys")

    // a pre-bitmap/pre-sketch committed state upgrades in place: drop
    // both derived frames, deliver one more epoch batch-wise, the
    // recommitted state regrows them consistent with the grown keyset
    for (frame <- Seq("bloom", "hll")) {
      val dir = java.nio.file.Paths.get(s"$state/current/$frame")
      java.nio.file.Files.walk(dir)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    StreamingIngest.dedupIngestBatch(
      Seq((20L, "totally novel content for the upgrade path test"))
        .toDF("doc_id", "text"),
      "doc_id", "text", k = 3, threshold = 0.5, state)
    val bloom2 = Dedup.bloomRead(spark, s"$state/current/bloom", 1 << 17)
    assert(bloom2.sameElements(Dedup.bloomBuild(
        spark.read.parquet(s"$state/current/keys"), "text", 1 << 17, 5)),
      "upgraded bitmap != rebuild from grown keys")
    assert(regsOf(Sketches.hllRead(spark, s"$state/current/hll")) ==
      regsOf(Sketches.hllRegisters(
        spark.read.parquet(s"$state/current/keys"), "text")),
      "upgraded HLL registers != rebuild from grown keys")
    assert(spark.read.parquet(s"$state/current/corpus")
      .select($"doc_id").as[Long].collect().toSet == ids2 + 20L)
  }

  test("streaming ANN ingest: epochs append to the index, replay-safe, probe-ready") {
    import graft.streaming.StreamingIngest
    import graft.ops.Similarity
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cb = Similarity.coarseCodebook(emb, "vec_id", "embedding", 8)
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, ksub = 8)
    val base = java.nio.file.Files.createTempDirectory("graft-ann-stream").toString
    val state = s"$base/state"
    val rows = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val (e1, e2) = rows.partition(_._1 % 2 == 0)

    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamingIngest.annIngest(
      stream.toDS().toDF("vec_id", "embedding"),
      "vec_id", "embedding", cb, cbs, state, s"$base/ckpt")
    stream.addData(e1: _*)
    q.processAllAvailable()
    assert(spark.read.parquet(s"$state/current/index").count() == e1.size)
    stream.addData(e2: _*)
    q.processAllAvailable()
    // replay: re-delivering epoch 2 appends nothing
    stream.addData(e2: _*)
    q.processAllAvailable()
    q.stop()
    val idx = spark.read.parquet(s"$state/current/index")
    assert(idx.count() == rows.size)
    // committed index ≡ one-shot encode of the whole corpus under the
    // same frozen codebooks
    val expect = Similarity.ivfadcIndex(emb, "vec_id", "embedding", cb, cbs)
    assert(idx.exceptAll(expect).count() == 0 &&
      expect.exceptAll(idx).count() == 0)
    // probe-ready between epochs: the committed index answers queries
    // identically to the direct in-query form
    val queries = emb.filter($"vec_id" < 3)
    val direct = Similarity.ivfadcTopK(emb, queries, "vec_id", "embedding",
        k = 10, nCentroids = 8, nProbe = 2, m = 4, ksub = 8)
      .select($"query_id", $"rank", $"neighbor_id", $"adc_dist")
      .as[(Long, Int, Long, Long)].collect().toSeq.sortBy(t => (t._1, t._2))
    val viaCommitted = Similarity.ivfadcTopKIndexed(idx, queries,
        "vec_id", "embedding", k = 10, cb, cbs, nProbe = 2)
      .select($"query_id", $"rank", $"neighbor_id", $"adc_dist")
      .as[(Long, Int, Long, Long)].collect().toSeq.sortBy(t => (t._1, t._2))
    assert(viaCommitted == direct)
    // ... and the full probe-and-refine composition: the committed
    // index serves the q94 rerank stage between epochs — shortlist
    // from the committed codes, exact rerank against the raw vectors,
    // identical to the one-shot in-query form over the same corpus
    val rerankDirect = Similarity.ivfadcRerankTopK(emb, queries,
        "vec_id", "embedding", k = 10, shortlist = 30, nCentroids = 8,
        nProbe = 2, m = 4, ksub = 8)
      .select($"query_id", $"rank", $"neighbor_id", $"d2_micro")
      .as[(Long, Int, Long, Long)].collect().toSeq.sortBy(t => (t._1, t._2))
    val rerankCommitted = Similarity.ivfadcRerankTopKIndexed(idx, emb,
        queries, "vec_id", "embedding", k = 10, shortlist = 30,
        cb, cbs, nProbe = 2)
      .select($"query_id", $"rank", $"neighbor_id", $"d2_micro")
      .as[(Long, Int, Long, Long)].collect().toSeq.sortBy(t => (t._1, t._2))
    assert(rerankCommitted == rerankDirect)
  }

  test("streaming incremental agg: epochs merge to the exact batch answer, replay-safe") {
    import graft.ops.IncrementalAgg
    import graft.streaming.StreamingIngest
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_agg_ingest").toString
    val keys = Seq("k"); val sums = Seq("v")
    val mins = Seq("d"); val maxs = Seq("d")
    def rows(lo: Int, hi: Int) = (lo until hi).map(i =>
      (i % 7L, i * 1.5, Timestamp.valueOf(f"2026-01-${1 + i % 28}%02d 00:00:00")))
    val stream = MemoryStream[(Long, Double, Timestamp)]
    val q = StreamingIngest.aggIngest(stream.toDS().toDF("k", "v", "d"),
      keys, sums, mins, maxs, s"$dir/state", s"$dir/chk")
    stream.addData(rows(0, 40)); q.processAllAvailable()
    stream.addData(rows(40, 90)); q.processAllAvailable()
    stream.addData(rows(90, 100)); q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(_.toString).toSeq
    val got = spark.read.parquet(s"$dir/state/current/state")
    val want = IncrementalAgg.aggState(
      rows(0, 100).toDF("k", "v", "d"), keys, sums, mins, maxs)
    assert(canon(got) == canon(want))
    // replaying an already-committed epoch is a no-op: same epochId,
    // same (or even different) payload — the ledger rejects it
    StreamingIngest.aggIngestBatch(rows(0, 40).toDF("k", "v", "d"),
      keys, sums, mins, maxs, s"$dir/state", epochId = 1L)
    assert(canon(spark.read.parquet(s"$dir/state/current/state")) ==
      canon(want))
    // a genuinely new epoch still merges
    StreamingIngest.aggIngestBatch(
      Seq((100L, 2.0, Timestamp.valueOf("2026-02-01 00:00:00")))
        .toDF("k", "v", "d"),
      keys, sums, mins, maxs, s"$dir/state", epochId = 99L)
    assert(spark.read.parquet(s"$dir/state/current/state").count() == 8)
  }

  test("ingest commit protocol: interrupted swap rolls forward; stale staging discarded") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.streaming.StreamingIngest
    import graft.ops.Similarity
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cb = Similarity.coarseCodebook(emb, "vec_id", "embedding", 8)
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, ksub = 8)
    val state = java.nio.file.Files
      .createTempDirectory("graft-ann-recover").toString
    val all = emb.select($"vec_id", $"embedding")
    val e1 = all.filter($"vec_id" % 2 === 0)
    val e2 = all.filter($"vec_id" % 2 =!= 0)
    StreamingIngest.annIngestBatch(e1, "vec_id", "embedding", cb, cbs, state)
    StreamingIngest.annIngestBatch(e2, "vec_id", "embedding", cb, cbs, state)
    val total = all.count()
    assert(spark.read.parquet(s"$state/current/index").count() == total)
    // simulate a crash BETWEEN the two commit moves: current demoted
    // (old holds the epoch-1 state), the complete new state still in
    // staging WITH its commit marker (the marker is written before the
    // moves and removed only after the final promote, so this is the
    // exact crash residue) — without roll-forward, the next epoch
    // would see "no state" and rebuild from its batch alone, losing
    // epoch 1
    Files.move(Paths.get(s"$state/current"), Paths.get(s"$state/current.staging"),
      StandardCopyOption.ATOMIC_MOVE)
    Files.createFile(Paths.get(s"$state/current.staging/_GRAFT_COMMIT_READY"))
    StreamingIngest.annIngestBatch(e2, "vec_id", "embedding", cb, cbs, state)
    val healed = spark.read.parquet(s"$state/current/index")
    assert(healed.count() == total) // nothing lost, replay added nothing
    assert(healed.filter($"neighbor_id" % 2 === 0).count() == e1.count())
    // stale staging next to a live current (crash after staging write,
    // before any move): the epoch replays and the stale copy is dropped
    Files.createDirectories(Paths.get(s"$state/current.staging"))
    Files.writeString(Paths.get(s"$state/current.staging/garbage"), "stale")
    StreamingIngest.annIngestBatch(e2, "vec_id", "embedding", cb, cbs, state)
    assert(spark.read.parquet(s"$state/current/index").count() == total)
  }

  test("ingest commit protocol: first-epoch crash mid-staging-write is not promoted") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.StreamingIngest
    // a crash DURING the very first staging write leaves a partial,
    // unmarked staging with no current — recovery must treat it as
    // garbage (delete + rebuild from the replayed epoch), never
    // promote it to committed state: a promoted partial frame set
    // (e.g. corpus without keys) would make later epochs fail or
    // silently re-accept duplicates (ADVICE r8)
    val state = Files.createTempDirectory("graft-dedup-firstcrash").toString
    Files.createDirectories(Paths.get(s"$state/current.staging/corpus"))
    Files.writeString(Paths.get(s"$state/current.staging/corpus/part-00000"), "torn")
    // no index/, no keys/, no commit marker — a torn first write
    val epoch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    StreamingIngest.dedupIngestBatch(epoch, "doc_id", "text",
      k = 3, threshold = 0.5, state)
    // the torn staging was discarded; the replayed epoch committed a
    // complete, mutually-consistent state
    val ids = spark.read.parquet(s"$state/current/corpus")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L))
    assert(spark.read.parquet(s"$state/current/keys").count() == 2)
    assert(!Files.exists(Paths.get(s"$state/current.staging")))
    // and a second epoch reads that state normally
    StreamingIngest.dedupIngestBatch(
      Seq((3L, "alpha beta gamma delta epsilon zeta"),
        (4L, "fresh new content entirely unlike others")).toDF("doc_id", "text"),
      "doc_id", "text", k = 3, threshold = 0.5, state)
    val ids2 = spark.read.parquet(s"$state/current/corpus")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids2 == Set(1L, 2L, 4L))
  }

  test("streaming SCD2 ingest: conflicting same-id rows pick one deterministic survivor") {
    import graft.streaming.StreamingIngest
    implicit val sqlCtx = spark.sqlContext
    // the same conflicting epoch delivered in both orders (a replay may
    // repartition/reorder) must commit the SAME survivor
    val conflict = Seq(
      VRow("X_001", "X", 1, None, "zulu"),
      VRow("X_001", "X", 1, None, "alpha"))
    val survivors = Seq(conflict, conflict.reverse).zipWithIndex.map {
      case (epoch, i) =>
        val base = java.nio.file.Files
          .createTempDirectory(s"graft-scd2-det$i").toString
        val stream = MemoryStream[VRow]
        val q = StreamingIngest.scd2Ingest(stream.toDF(), "id",
          s"$base/snapshot", s"$base/ckpt")
        stream.addData(epoch: _*)
        q.processAllAvailable()
        q.stop()
        spark.read.parquet(s"$base/snapshot")
          .select($"id", $"naam").as[(String, String)].collect().toSeq
    }
    assert(survivors.head == Seq("X_001" -> "zulu")) // max payload struct
    assert(survivors(0) == survivors(1))
  }
}
