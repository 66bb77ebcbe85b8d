package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.parsers

/** Column names of an SCD2 versioned entity table
  * (SURVEY.md §1.1; reference temporal block at
  * /root/reference/src/dso_import/bagh/bagh_create.sql:20-24). */
object VersionedCols {
  val identificatie = "identificatie"
  val volgnummer = "volgnummer"
  val begin = "begin_geldigheid"
  val eind = "eind_geldigheid"
}

/** SCD2 / temporal operators (SURVEY.md §2.3 J2-J5, §2.4 A1, §2.5).
  *
  * All operators are set-oriented DataFrame transforms: at 100 TB every
  * one of them is a single shuffle on the business key (or a broadcast),
  * never a driver-side collect.
  */
object Temporal {
  private val v = VersionedCols

  /** A1 duplicate-open-version check (bagh/batch.py:242-254): business
    * keys with more than one open (`eind IS NULL`) version — a load-
    * aborting invariant in the reference. One hash aggregate, partial+
    * final, on the filtered rows only. */
  def duplicateOpenVersions(df: DataFrame): DataFrame =
    df.filter(col(v.eind).isNull)
      .groupBy(col(v.identificatie))
      .agg(count(lit(1)).as("n_open"))
      .filter(col("n_open") > 1)

  /** §2.5 current-version operator: latest version per business key
    * (highest volgnummer), the window form of the reference's
    * `eind_geldigheid IS NULL` convention (bagh/batch.py:185-187).
    * Single shuffle on the business key; no self-join. */
  def currentVersion(df: DataFrame,
      tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(col(v.identificatie))
      .orderBy(col(v.volgnummer).desc +: tiebreak: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** J5 interval-overlap audit, SQL-faithful self-join form
    * (bagh/batch.py:260-272): pairs (a,b) of versions of one key where
    * a starts strictly after b starts but before b ends (or b is open).
    * Executes as a shuffled hash/sort-merge join on the equi key with
    * the range predicate as a post-join filter — correct but quadratic
    * per key; prefer [[overlapsWindow]] at scale. */
  def overlapPairsJoin(df: DataFrame): DataFrame = {
    val a = df.alias("a")
    // SHUFFLE_HASH: per-business-key groups are tiny (a handful of
    // versions), so hash-building one side skips the two full-side
    // sorts a sort-merge join would pay (measured 2.5x at sf0.1). At
    // cluster scale the build side is one shuffle partition of
    // versions — bounded by partition sizing, not corpus size; the
    // window form (overlapsWindow) remains the preferred scale path.
    val b = df.hint("shuffle_hash").alias("b")
    a.join(b,
        col(s"a.${v.identificatie}") === col(s"b.${v.identificatie}") &&
        col(s"a.${v.volgnummer}") =!= col(s"b.${v.volgnummer}") &&
        col(s"a.${v.begin}") > col(s"b.${v.begin}") &&
        (col(s"a.${v.begin}") < col(s"b.${v.eind}") || col(s"b.${v.eind}").isNull))
      .select(
        col(s"a.${v.identificatie}").as("identificatie"),
        col(s"a.${v.volgnummer}").as("volgnummer_a"),
        col(s"b.${v.volgnummer}").as("volgnummer_b"),
        col(s"a.${v.begin}").as("begin_a"),
        col(s"b.${v.begin}").as("begin_b"),
        col(s"b.${v.eind}").as("eind_b"))
  }

  /** J5 scalable window form (SURVEY.md §2.5): flag every version `a`
    * for which some earlier-starting version of the same key is still
    * open or ends after a's begin — EXACTLY the join form's semantics
    * (`b.begin < a.begin AND (b open OR a.begin < b.eind)`,
    * bagh/batch.py:260-272), via a running max over a RANGE frame that
    * excludes begin-ties (strict inequality). Linear per key after one
    * shuffle — the 100 TB-safe shape.
    *
    * (A naive lead()-based adjacent-pair check is NOT equivalent: it
    * wrongly flags same-begin ties and misses non-adjacent overlaps —
    * caught by the PropertySpec equivalence property.) */
  def overlapsWindow(df: DataFrame): DataFrame = {
    val ord = col(v.begin).cast("timestamp").cast("long")
    val w = Window.partitionBy(col(v.identificatie)).orderBy(ord)
      .rangeBetween(Window.unboundedPreceding, -1)
    val priorOpen = max(when(col(v.eind).isNull, 1).otherwise(0)).over(w)
    val priorMaxEind = max(col(v.eind)).over(w)
    df.withColumn("__prior_open", priorOpen)
      .withColumn("__prior_max_eind", priorMaxEind)
      .filter(col("__prior_open") === 1 || col(v.begin) < col("__prior_max_eind"))
      .select(
        col(v.identificatie).as("identificatie"),
        col(v.volgnummer).as("volgnummer"),
        col(v.begin).as("begin"),
        col(v.eind).as("eind"))
  }

  /** J2 deleted-row audit (bagh/batch.py:98-110): live rows whose id is
    * missing from the staged set — history must never shrink, so any row
    * here aborts the merge. Left-anti join on the versioned id. */
  def detectDeleted(live: DataFrame, staged: DataFrame, idCol: String = "id"): DataFrame =
    live.join(staged, Seq(idCol), "left_anti")

  /** J3 insert-new (bagh/batch.py:112-120): staged rows with no live
    * counterpart. */
  def insertNew(staged: DataFrame, live: DataFrame, idCol: String = "id"): DataFrame =
    staged.join(live, Seq(idCol), "left_anti")

  /** Row-wise `IS DISTINCT FROM` across the given columns — the
    * null-safe whole-row change predicate of J4 (bagh/batch.py:121-130,
    * `t IS DISTINCT FROM e`). `<=>` is Spark's null-safe equality. */
  def anyColumnDistinct(left: String, right: String, cols: Seq[String]): Column =
    cols.map(c => !(col(s"$left.$c") <=> col(s"$right.$c")))
      .reduce(_ || _)

  /** J2+J3+J4 fused: the reference's three merge statements
    * (bagh/batch.py:98-131) as one MERGE-as-rewrite.
    *
    * Result = staged-updated rows ∪ staged-new rows ∪ untouched live
    * rows. Spark has no in-place UPDATE, so the merge rewrites the
    * snapshot — Delta's `MERGE WHEN MATCHED/NOT MATCHED` built from one
    * full-outer join (single shuffle on id for both sides; at 100 TB
    * pre-bucketing both sides by id makes this shuffle-free). */
  def mergeScd2(live: DataFrame, staged: DataFrame,
      idCol: String = "id"): DataFrame = {
    val cols = staged.columns.toSeq
    val l = live.alias("e")
    val s = staged.alias("t")
    val joined = l.join(s, col(s"e.$idCol") === col(s"t.$idCol"), "full_outer")
    val stagedPresent = col(s"t.$idCol").isNotNull
    // staged wins when new or changed; unchanged/unmatched keep live.
    val out = cols.map { c =>
      when(stagedPresent, col(s"t.$c")).otherwise(col(s"e.$c")).as(c)
    }
    joined.select(out: _*)
  }

  /** Merge audit counts without mutating anything — the reference's
    * insert/update/delete counters (bagh/batch.py:98-131). Each side is
    * an independent lazy DataFrame; `counts` materializes all three in
    * one pass-per-metric. */
  case class MergeAudit(inserted: DataFrame, updated: DataFrame, deleted: DataFrame)

  def mergeAudit(live: DataFrame, staged: DataFrame,
      idCol: String = "id"): MergeAudit = {
    val cmp = staged.columns.toSeq.filterNot(_ == idCol)
    val changed = live.alias("e")
      .join(staged.alias("t"), col(s"e.$idCol") === col(s"t.$idCol"))
      .filter(anyColumnDistinct("t", "e", cmp))
      .select(col(s"t.$idCol").as(idCol))
    MergeAudit(
      inserted = insertNew(staged, live, idCol),
      updated = changed,
      deleted = detectDeleted(live, staged, idCol))
  }

  /** Build an SCD2 history from a change-event stream — the inverse of
    * the reference's loader: each (key, ts, payload) event opens a
    * version at ts and closes the previous one (eind = next begin;
    * last version open). volgnummer = event order per key; id =
    * create_id. One shuffle on the key. `tiebreak` must make the
    * per-key event order total. */
  def buildHistory(df: DataFrame, keyCol: String, tsCol: String,
      payloadCols: Seq[String], tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol) +: tiebreak: _*)
    df.withColumn("volgnummer", row_number().over(w))
      .withColumn("__eind", lead(col(tsCol), 1).over(w))
      .select(Seq(
        graft.functions.parsers.createId(
          col(keyCol).cast("string"), col("volgnummer")).as("id"),
        col(keyCol).cast("string").as("identificatie"),
        col("volgnummer"),
        col(tsCol).as("begin_geldigheid"),
        col("__eind").as("eind_geldigheid")) ++
        payloadCols.map(col): _*)
  }

  /** Temporal as-of join: for each probe row (key, ts), attach the
    * version whose validity interval contains ts — "which version was
    * current at time t", the natural SCD2 lookup. Spark has no as-of
    * join; rather than a custom SparkPlan, this composes built-ins with
    * the union+last_value trick (preference (a) of the build brief):
    * tag versions and probes, sort the union per key by (time, tag),
    * and carry the latest version state forward onto each probe row —
    * ONE shuffle on the key, linear per key, no range join blowup.
    *
    * Rows whose matched version has eind <= ts (expired) get nulls.
    *
    * @param probes   (keyCol, tsCol) rows to enrich
    * @param versions SCD2 table with VersionedCols + payload columns
    */
  def asOfJoin(probes: DataFrame, probeKey: String, probeTs: String,
      versions: DataFrame, payloadCols: Seq[String]): DataFrame = {
    // the whole version is carried as ONE struct so that a null eind
    // (open version) travels with its version instead of being skipped
    // by last(ignoreNulls) and replaced by an older version's eind
    val verStruct = struct(
      Seq(col(v.begin).as("vb"), col(v.eind).as("ve"),
        col(v.volgnummer).as("vn")) ++
        payloadCols.map(c => col(c).as(c)): _*)
    val verSide = versions.select(col(v.identificatie).as("__k"),
      col(v.begin).as("__t"), lit(0).as("__tag"),
      col(v.volgnummer).as("__vn"), verStruct.as("__vs"))
    val structType = verSide.schema("__vs").dataType
    val probeSide = probes.select(col(probeKey).as("__k"),
      col(probeTs).as("__t"), lit(1).as("__tag"),
      lit(null).cast("int").as("__vn"), lit(null).cast(structType).as("__vs"))
    // versions sort before probes at equal time (tag 0 < 1): a version
    // beginning exactly at the probe ts IS visible to it; among equal
    // begins the higher volgnummer wins.
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__tag"), col("__vn").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = verSide.unionByName(probeSide)
      .withColumn("__c", last(col("__vs"), ignoreNulls = true).over(w))
    val valid = col("__c").isNotNull &&
      (col("__c.ve").isNull || col("__c.ve") > col("__t"))
    carried.filter(col("__tag") === 1)
      .select(
        Seq(col("__k").as(probeKey), col("__t").as(probeTs),
          when(valid, col("__c.vn")).as("volgnummer"),
          when(valid, col("__c.vb")).as("valid_from"),
          when(valid, col("__c.ve")).as("valid_to")) ++
          payloadCols.map(c => when(valid, col(s"__c.$c")).as(c)): _*)
  }

  /** Interval coalescing: merge adjacent/overlapping validity ranges of
    * one business key into maximal ranges — the classic gaps-and-islands
    * rewrite (window form, one shuffle). Not in the reference, but the
    * natural companion of its interval algebra (SURVEY.md §2.10 demo). */
  def coalesceIntervals(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(v.identificatie))
      .orderBy(col(v.begin), col(v.volgnummer))
    val wRun = Window.partitionBy(col(v.identificatie))
      .orderBy(col(v.begin), col(v.volgnummer))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // island starts where this begin is after the running max of prior
    // ends (null end = open = swallows everything after it).
    val priorMaxEind = max(col(v.eind)).over(wRun.rowsBetween(Window.unboundedPreceding, -1))
    val priorOpen = max(when(col(v.eind).isNull, 1).otherwise(0))
      .over(wRun.rowsBetween(Window.unboundedPreceding, -1))
    df.withColumn("__new_island",
        when(row_number().over(w) === 1, 1)
          .when(priorOpen === 1, 0)
          .when(col(v.begin) > priorMaxEind, 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__new_island")).over(wRun))
      .groupBy(col(v.identificatie), col("__island"))
      .agg(
        min(col(v.begin)).as("begin"),
        when(max(when(col(v.eind).isNull, 1).otherwise(0)) === 1, lit(null))
          .otherwise(max(col(v.eind))).as("eind"),
        count(lit(1)).as("n_versions"))
      .drop("__island")
  }

  /** Point-in-interval range join WITHOUT an equi key, via bin
    * bucketing — the classic rewrite that turns Spark's only native
    * plan for this shape (broadcast-nested-loop, O(points ×
    * intervals)) into an equi join:
    *
    *   - every point lands in exactly one `binDays`-wide bin;
    *   - every interval is exploded onto each bin it touches
    *     (`sequence(binOf(begin), binOf(end))`);
    *   - equi-join on the bin, then the exact BETWEEN filter.
    *
    * Each (point, interval) match arises in exactly one bin — the
    * point's — so no dedup is needed. Cost: |intervals| × avg bins
    * per interval extra build rows; pick `binDays` near the median
    * interval length. Inclusive on both endpoints; intervals with
    * `end < begin` are dropped (sequence would run backwards).
    * Both date columns; at 100 TB this is the difference between a
    * shuffle join and a cluster-melting cross product. */
  def rangeJoinBinned(points: DataFrame, ptCol: String,
      intervals: DataFrame, beginCol: String, endCol: String,
      binDays: Int): DataFrame = {
    require(binDays >= 1, "binDays must be >= 1")
    val epoch = lit("1970-01-01").cast("date")
    def binOf(c: Column): Column = floor(datediff(c, epoch) / binDays)
    val p = points.withColumn("__bin", binOf(col(ptCol)))
    val iv = intervals
      .filter(col(endCol) >= col(beginCol))
      .withColumn("__bin",
        explode(sequence(binOf(col(beginCol)), binOf(col(endCol)))))
    p.join(iv, Seq("__bin"))
      .filter(col(ptCol) >= col(beginCol) && col(ptCol) <= col(endCol))
      .drop("__bin")
  }
}
