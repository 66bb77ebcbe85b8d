package graft

import org.apache.spark.sql.functions._
import graft.ops.Temporal

/** SCD2 merge semantics (bagh/batch.py:85-137) + the FIXTURES.md §2
  * scenarios: inserts-only, single-column update, idempotence,
  * deleted-history abort, null<->value flips (IS DISTINCT FROM
  * fidelity), and join-vs-window overlap agreement. */
class TemporalSpec extends SparkSuite {
  import spark.implicits._

  private def vdf(rows: (String, Int, String, Option[String])*) =
    rows.toDF("identificatie", "volgnummer", "b", "e")
      .select($"identificatie", $"volgnummer",
        to_date($"b").as("begin_geldigheid"),
        to_date($"e").as("eind_geldigheid"))

  private def live = Seq(
    ("A_001", "A", 1, "x", Some(10.0)),
    ("A_002", "A", 2, "y", None),
    ("B_001", "B", 1, "z", Some(5.0))
  ).toDF("id", "identificatie", "volgnummer", "naam", "val")

  test("mergeScd2: staged wins when present; live rows survive when absent") {
    val staged = Seq(
      ("A_002", "A", 2, "y2", Option.empty[Double]),  // update
      ("C_001", "C", 1, "new", Some(1.0))             // insert
    ).toDF("id", "identificatie", "volgnummer", "naam", "val")
    val m = Temporal.mergeScd2(live, staged, "id")
      .orderBy($"id").collect()
    assert(m.map(_.getString(0)).toSeq == Seq("A_001", "A_002", "B_001", "C_001"))
    assert(m(1).getString(3) == "y2")  // updated naam
    assert(m(2).getString(3) == "z")   // untouched live row
  }

  test("mergeScd2 idempotence: merge(merge(l,s),s) == merge(l,s)") {
    val staged = Seq(("A_002", "A", 2, "y2", Some(9.0)))
      .toDF("id", "identificatie", "volgnummer", "naam", "val")
    val once = Temporal.mergeScd2(live, staged, "id")
    val twice = Temporal.mergeScd2(once, staged, "id")
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("mergeAudit: null<->value flips count as updates (null-safe compare)") {
    val staged = Seq(
      ("A_001", "A", 1, "x", Option.empty[Double]), // 10.0 -> null : update
      ("A_002", "A", 2, "y", Some(7.0)),            // null -> 7.0 : update
      ("B_001", "B", 1, "z", Some(5.0))             // identical : no-op
    ).toDF("id", "identificatie", "volgnummer", "naam", "val")
    val audit = Temporal.mergeAudit(live, staged, "id")
    assert(audit.updated.collect().map(_.getString(0)).sorted.toSeq
      == Seq("A_001", "A_002"))
    assert(audit.inserted.count() == 0)
    assert(audit.deleted.count() == 0)
  }

  test("detectDeleted: history must never shrink") {
    val staged = live.filter($"id" =!= "B_001")
    assert(Temporal.detectDeleted(live, staged, "id")
      .collect().map(_.getString(0)).toSeq == Seq("B_001"))
  }

  test("duplicateOpenVersions flags >1 open version per key") {
    val df = vdf(
      ("A", 1, "2020-01-01", None),
      ("A", 2, "2021-01-01", None),          // second open A
      ("B", 1, "2020-01-01", Some("2021-01-01")),
      ("B", 2, "2021-01-01", None))
    val bad = Temporal.duplicateOpenVersions(df).collect()
    assert(bad.map(_.getString(0)).toSeq == Seq("A"))
    assert(bad.head.getLong(1) == 2)
  }

  test("overlap: join form and window form agree on overlapping keys") {
    val df = vdf(
      ("A", 1, "2020-01-01", Some("2020-06-01")),
      ("A", 2, "2020-03-01", None),            // overlaps v1
      ("B", 1, "2020-01-01", Some("2020-02-01")),
      ("B", 2, "2020-02-01", None),            // adjacent, no overlap
      ("C", 1, "2020-01-01", None),
      ("C", 2, "2020-03-01", Some("2020-04-01"))) // v1 open, v2 inside
    val joinKeys = Temporal.overlapPairsJoin(df)
      .select($"identificatie").distinct().as[String].collect().sorted.toSeq
    val windowKeys = Temporal.overlapsWindow(df)
      .select($"identificatie").distinct().as[String].collect().sorted.toSeq
    assert(joinKeys == Seq("A", "C"))
    assert(windowKeys == joinKeys)
  }

  test("currentVersion picks highest volgnummer per key") {
    val df = vdf(
      ("A", 1, "2020-01-01", Some("2021-01-01")),
      ("A", 2, "2021-01-01", None),
      ("B", 5, "2019-01-01", None))
    val cur = Temporal.currentVersion(df).orderBy($"identificatie").collect()
    assert(cur.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq("A" -> 2, "B" -> 5))
  }

  test("asOfJoin: version valid at ts; boundary inclusive on begin, exclusive on eind") {
    val vers = vdf(
      ("A", 1, "2020-01-01", Some("2020-06-01")),
      ("A", 2, "2020-06-01", Some("2020-09-01")),
      ("B", 1, "2020-01-01", None))
      .withColumn("payload", concat($"identificatie", lit("-v"), $"volgnummer"))
    val probes = Seq(
      ("A", "2020-03-15"),  // inside v1
      ("A", "2020-06-01"),  // v1 expired at its eind, v2 begins -> v2
      ("A", "2020-09-01"),  // v2 expired, nothing open -> nulls
      ("A", "2019-12-31"),  // before any version -> nulls
      ("B", "2024-01-01"),  // open version
      ("C", "2020-01-01")   // unknown key -> nulls
    ).toDF("k", "t").select($"k", to_date($"t").as("t"))
    val out = Temporal.asOfJoin(probes, "k", "t", vers,
        payloadCols = Seq("payload"))
      .orderBy($"k", $"t")
      .select($"k", $"t", $"payload").as[(String, java.sql.Date, String)]
      .collect().toSeq
    assert(out == Seq(
      ("A", java.sql.Date.valueOf("2019-12-31"), null),
      ("A", java.sql.Date.valueOf("2020-03-15"), "A-v1"),
      ("A", java.sql.Date.valueOf("2020-06-01"), "A-v2"),
      ("A", java.sql.Date.valueOf("2020-09-01"), null),
      ("B", java.sql.Date.valueOf("2024-01-01"), "B-v1"),
      ("C", java.sql.Date.valueOf("2020-01-01"), null)))
  }

  test("coalesceIntervals merges overlapping/adjacent ranges per key") {
    val df = vdf(
      ("A", 1, "2020-01-01", Some("2020-03-01")),
      ("A", 2, "2020-02-01", Some("2020-05-01")),  // overlaps v1 -> one island
      ("A", 3, "2020-06-01", Some("2020-07-01")),  // gap -> new island
      ("B", 1, "2020-01-01", None))                // open
    val out = Temporal.coalesceIntervals(df)
      .orderBy($"identificatie", $"begin").collect()
    assert(out.length == 3)
    val a0 = out(0)
    assert(a0.getString(0) == "A" && a0.getDate(1).toString == "2020-01-01" &&
      a0.getDate(2).toString == "2020-05-01" && a0.getLong(3) == 2)
    val a1 = out(1)
    assert(a1.getDate(1).toString == "2020-06-01")
    val b = out(2)
    assert(b.getString(0) == "B" && b.isNullAt(2))
  }

  test("rangeJoinBinned == naive BNL range join; endpoints inclusive; multi-bin spans") {
    val points = Seq(
      (1L, "2020-01-01"), (2L, "2020-01-15"), (3L, "2020-02-01"),
      (4L, "2020-03-15"), (5L, "2020-06-30"), (6L, "2019-12-31"))
      .toDF("pid", "d").select($"pid", $"d".cast("date").as("pt"))
    val intervals = Seq(
      (10L, "2020-01-01", "2020-01-01"),   // zero-length: exactly one day
      (11L, "2020-01-01", "2020-03-15"),   // spans 3 monthly bins
      (12L, "2020-02-01", "2020-01-01"),   // end < begin: dropped
      (13L, "2020-05-01", "2020-12-31"))   // long span
      .toDF("iid", "b", "e")
      .select($"iid", $"b".cast("date").as("iv_b"), $"e".cast("date").as("iv_e"))
    val binned = Temporal.rangeJoinBinned(points, "pt", intervals,
        "iv_b", "iv_e", binDays = 30)
      .select($"pid", $"iid").as[(Long, Long)].collect().toSet
    val naive = points.join(intervals, $"pt" >= $"iv_b" && $"pt" <= $"iv_e")
      .select($"pid", $"iid").as[(Long, Long)].collect().toSet
    assert(binned == naive)
    assert(binned.contains((1L, 10L)))   // begin == end == pt inclusive
    assert(binned.contains((4L, 11L)))   // pt == interval end inclusive
    assert(!binned.exists(_._2 == 12L))  // inverted interval dropped
    // and the plan is an equi join on the bin, not a nested loop
    val plan = Temporal.rangeJoinBinned(points, "pt", intervals,
      "iv_b", "iv_e", 30).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
