package graft.pipeline

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, StructType}
import graft.functions.parsers
import graft.geo.geofunctions
import graft.model.{FkSpec, TableSpec}
import graft.ops.{Temporal, VersionedCols}
import graft.sources.CsvSource

/** The reference's entity-import lifecycle (SURVEY.md §3.2:
  * load → clean/validate → stage → validate-set → merge → commit),
  * re-expressed as one generic, spec-driven Spark pipeline
  * (/root/reference/src/dso_import/bagh/batch.py:45-137, 154-240).
  *
  * Each table's rows are parsed, checked and tagged in one pass
  * ([[tag]]): every row carries the first check it fails, or none.
  * [[importTable]] caches that tagged frame, so every count the import
  * reports comes from a pass that already runs: one window pass keyed
  * on `identificatie`, grouped by reason, gives the staged count, the
  * rejected count per reason and the set-level checks ([[validate]]),
  * and one full-outer join with the live snapshot gives the deleted,
  * inserted, updated and merged-row counts and, from its cached rows,
  * the merged snapshot itself.
  *
  * Differences by design:
  *  - per-row log lines become a reason column and dead-letter
  *    DataFrames (P7)
  *  - the merge is a snapshot rewrite committed through [[DirCommit]]
  *    (§7.4.3) instead of an in-place SQL transaction
  *  - FK domains are joins, not driver RAM sets — they scale past memory
  */
object ImportPipeline {

  /** Validation outcome: `errors` abort before any write (reference:
    * ValueError before merge, bagh/batch.py:109-110); `warnings` (the
    * overlap check, :269-272) do not. */
  case class ValidationReport(errors: Seq[String], warnings: Seq[String]) {
    def failed: Boolean = errors.nonEmpty
  }

  /** The reference's merge counters (bagh/batch.py:98-131): live rows
    * missing from staged, staged rows new to live, matched rows whose
    * columns changed, and the rows the merged snapshot holds. */
  case class MergeCounts(deleted: Long, inserted: Long, updated: Long, merged: Long)

  /** A [[mergeJoin]]: the merged rows, read from the `cached` join, and
    * their counts. */
  case class MergeJoin(merged: DataFrame, counts: MergeCounts, cached: DataFrame)

  /** The row counts of one [[tag]]ged frame: rows per reject reason
    * (`None`: the staged rows), and the staged rows' keys with several
    * open versions and rows overlapping an earlier version. */
  case class TagCounts(byReason: Map[Option[String], Long],
      duplicateOpenKeys: Long, overlaps: Long) {
    def staged: Long = byReason.getOrElse(None, 0L)
    def rejectedBy: Map[String, Long] = byReason.collect {
      case (Some(r), n) if r != UndecidedRange => r -> n
    }
  }

  /** One table's import. `loaded` is the merged snapshot's row count (0
    * on abort); `rejectedBy` counts the rejected rows per reason.
    * `merged` and `rejected` read the import's cached frames until
    * [[release]]. */
  case class ImportResult(
      merged: DataFrame,
      rejected: DataFrame,
      report: ValidationReport,
      inserted: Long, updated: Long,
      loaded: Long,
      rejectedBy: Map[String, Long],
      cached: Seq[DataFrame]) {
    def rejectedRows: Long = rejectedBy.values.sum
    /** Drops the import's cached blocks; call once the merge is
      * committed or the import aborted. */
    def release(): Unit = cached.foreach(_.unpersist())
  }

  private val v = VersionedCols

  /** The column [[parse]] adds: the first check a row fails, or null. */
  val Reason = "reject_reason"

  /** The tag of a row whose validity range is neither valid nor invalid
    * (a null begin under a set end): such a row stays out of both splits
    * of [[clean]] and out of every count. */
  private val UndecidedRange = "undecided_date_range"

  /** `df` with `cols` set in one projection: a column `df` has keeps its
    * place, a new one is appended. The expressions read `df`'s columns
    * only, so the projection equals a fold of `withColumn` over them. */
  private def project(df: DataFrame, cols: (String, Column)*): DataFrame = {
    val set = cols.toMap
    val names = df.columns.toSeq
    df.select(names.map(n => set.get(n).fold(col(s"`$n`"))(_.as(n))) ++
      cols.collect { case (n, c) if !names.contains(n) => c.as(n) }: _*)
  }

  /** Parse and check one raw (all-string) frame per the reference row
    * pipeline (P1-P5), in a handful of projections: rename, parse the
    * temporal block, synthesize id, then tag each row with the first
    * check it fails, in order: `malformed_csv` (when `raw` carries
    * [[CsvSource.CorruptCol]]), the validity range and the geometry.
    * Extra columns are computed only for rows not yet rejected, so an
    * extra column that raises on bad input (a non-numeric ref
    * volgnummer) only does so for a row that would otherwise load. The
    * schema depends on `spec` alone: the FK checks ([[checkFks]]) only
    * set [[Reason]]. */
  def parse(raw: DataFrame, spec: TableSpec): DataFrame = {
    val reason = col(Reason)
    val open = reason.isNull
    val malformed =
      if (raw.columns.contains(CsvSource.CorruptCol))
        when(col(CsvSource.CorruptCol).isNotNull, lit("malformed_csv"))
      else lit(null).cast("string")
    // P1 projection + rename (backticks: GOB headers contain ':' and '.')
    val renamed = raw.select(
      spec.sourceCols.map { case (s, t) => col(s"`$s`").as(t) } :+ malformed.as(Reason): _*)
    // temporal block parse (§3.2 step 2; bagh/batch.py:155-173); a
    // malformed row's volgnummer may hold any text and must not raise
    val volg = col("volgnummer")
    val typed = project(renamed,
      "volgnummer" -> when(open, volg.cast("int")).otherwise(volg.try_cast("int")),
      "registratiedatum" -> parsers.parseDateTime(col("registratiedatum")),
      v.begin -> parsers.parseDate(col(v.begin)),
      v.eind -> parsers.parseDate(col(v.eind)))
    // id, and P3 validity range
    val valid = parsers.isValidDateRange(col(v.begin), col(v.eind))
    val ranged = project(typed,
      Reason -> when(!open, reason).when(valid, lit(null))
        .when(!valid, lit("invalid_date_range")).otherwise(lit(UndecidedRange)),
      "id" -> parsers.createId(col(v.identificatie), col("volgnummer")))
    // P4 geometry validate/promote: null WKT passes (warned upstream),
    // unparseable or unpromotable → reject
    val located = spec.geometry.fold(ranged) { g =>
      // SRID contract (bagh_create.sql:37 geometry(...,28992)): EWKT
      // declaring a different SRID is a reject, like PostGIS on
      // insert; matching or absent declarations pass (the column is
      // pinned to g.srid either way via Metadata below).
      val declared = geofunctions.st_srid(col(g.col))
      val hasText = parsers.emptyToNull(col(g.col)).isNotNull
      val sridBad = hasText && declared.isNotNull && declared =!= lit(g.srid)
      val cast = project(ranged, "__geom_cast" -> when(open && hasText && !sridBad,
        geofunctions.st_castto(col(g.col), g.targetType)))
      val meta = new MetadataBuilder()
        .putLong("srid", g.srid.toLong)
        .putString("geom_type", g.targetType.toUpperCase).build()
      project(cast,
        Reason -> when(open && hasText && col("__geom_cast").isNull,
          when(sridBad, lit("srid_mismatch")).otherwise(lit("invalid_geometry")))
          .otherwise(reason),
        g.col -> col("__geom_cast").as(g.col, meta)).drop("__geom_cast")
    }
    // P5 extra columns
    if (spec.extraCols.isEmpty) located
    else project(located, spec.extraCols.map { case (n, e) => n -> when(open, e) }: _*)
  }

  /** J1 FK checks of a [[parse]]d frame: one left join per FK against the
    * parent's distinct keys, then one projection that tags a row not yet
    * rejected with its first FK miss, in spec order. A null FK passes
    * (bagh/batch.py:231). */
  def checkFks(parsed: DataFrame, spec: TableSpec,
      parents: Map[String, DataFrame]): DataFrame = if (spec.fks.isEmpty) parsed else {
    val keys = spec.fks.indices.map(i => s"__pk$i")
    val joined = spec.fks.zip(keys).foldLeft(parsed) {
      case (df, (FkSpec(child, parentName, parentKey), pk)) =>
        val parent = broadcast(parents(parentName).select(col(parentKey).as(pk)).distinct())
        df.join(parent, col(child) === col(pk), "left")
    }
    val firstMiss = spec.fks.zip(keys).foldLeft(when(col(Reason).isNotNull, col(Reason))) {
      case (w, (fk, pk)) => w.when(col(fk.childCol).isNotNull && col(pk).isNull,
        lit(s"fk_miss:${fk.childCol}"))
    }
    joined.select(parsed.columns.toSeq.map(c =>
      if (c == Reason) firstMiss.as(Reason) else col(s"`$c`")): _*)
  }

  /** Every row of `raw`, parsed and tagged with the first check it fails,
    * or none: [[parse]], then [[checkFks]]. */
  def tag(raw: DataFrame, spec: TableSpec,
      parents: Map[String, DataFrame]): DataFrame =
    checkFks(parse(raw, spec), spec, parents)

  /** The (clean, rejected-with-reason) splits of a [[tag]]ged frame. */
  private def split(tagged: DataFrame): (DataFrame, DataFrame) = (
    tagged.filter(col(Reason).isNull).drop(Reason),
    tagged.filter(col(Reason).isNotNull && col(Reason) =!= UndecidedRange)
      .select(col("id"), col(Reason)))

  /** [[tag]] split into (clean, rejected-with-reason). */
  def clean(raw: DataFrame, spec: TableSpec,
      parents: Map[String, DataFrame]): (DataFrame, DataFrame) =
    split(tag(raw, spec, parents))

  /** Set-level validations (§3.3 'after') and the row counts of one
    * [[tag]]ged frame, from one window pass keyed on `identificatie`
    * over the staged (untagged) rows, aggregated by reject reason:
    * duplicate open versions abort (`Temporal.duplicateOpenVersions`,
    * counted in keys), interval overlaps warn (`Temporal.overlapsWindow`,
    * counted in rows), and deleted history, counted by the merge join,
    * aborts. */
  def validate(tagged: DataFrame, merge: Option[MergeCounts]): (ValidationReport, TagCounts) = {
    val staged = col(Reason).isNull
    val byKey = Window.partitionBy(col(v.identificatie))
      .orderBy(col(v.begin).cast("timestamp").cast("long"))
    val before = byKey.rangeBetween(Window.unboundedPreceding, -1)
    val isOpen = staged && col(v.eind).isNull
    val opens = count(when(isOpen, 1))
    val flags = tagged.select(col(Reason),
      // overlapsWindow: an earlier-starting version is open or ends late
      (staged && (max(when(isOpen, 1).when(staged, 0)).over(before) === 1 ||
        col(v.begin) < max(when(staged, col(v.eind))).over(before))).as("overlap"),
      // the first open version, in row order, of a key with several
      (isOpen && opens.over(
          byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)) > 1 &&
        opens.over(byKey.rowsBetween(Window.unboundedPreceding, -1)) === 0).as("dup"))
    val rows = flags.groupBy(col(Reason))
      .agg(count(lit(1)), count(when(col("dup"), 1)), count(when(col("overlap"), 1)))
      .collect()
    val counts = TagCounts(
      rows.map(r => Option(r.getString(0)) -> r.getLong(1)).toMap,
      rows.map(_.getLong(2)).sum, rows.map(_.getLong(3)).sum)
    val errors = Seq(
      Some(counts.duplicateOpenKeys).filter(_ > 0).map(n => s"duplicate_open_versions:$n"),
      merge.map(_.deleted).filter(_ > 0).map(n => s"deleted_history_rows:$n")).flatten
    val warnings = Some(counts.overlaps).filter(_ > 0).map(n => s"overlapping_ranges:$n").toSeq
    (ValidationReport(errors, warnings), counts)
  }

  /** The committed-snapshot schema of `spec` as a flat zero-row frame:
    * the schema of [[parse]] over an empty raw extract, without
    * [[Reason]], on a LocalRelation, so it needs neither a job nor the
    * parents. Used to preload absent parents on a named-task restart:
    * FK checks against it reject honestly instead of the `parents`
    * lookup throwing (reference batch/batch.py:19-30 `--bagh_start`). */
  def emptySnapshot(spark: SparkSession, spec: TableSpec): DataFrame = {
    val raw = spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      CsvSource.stringSchema(spec.sourceCols.map(_._1)))
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(parse(raw, spec).schema.filterNot(_.name == Reason)))
  }

  /** J2+J3+J4 as one full-outer join of `live` and `staged` on `id`: the
    * rows of `Temporal.mergeScd2(live, staged)` (staged wins when
    * present, untouched live rows survive), cached with a flag per
    * counter, so one aggregate over the cached rows gives the counts of
    * `Temporal.detectDeleted` and `Temporal.mergeAudit` and the commit
    * writes the same rows without a second shuffle. A staged column
    * `live` lacks reads as null in it, so such a live frame still gets
    * its deleted count, and with it the abort decision. */
  def mergeJoin(live: DataFrame, staged: DataFrame): MergeJoin = {
    val cols = staged.columns.toSeq
    val aligned = live.select(staged.schema.fields.toSeq.map { f =>
      if (live.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    val inLive = col("e.__live").isNotNull
    val inStaged = col("t.__staged").isNotNull
    val flagged = aligned.withColumn("__live", lit(true)).alias("e")
      .join(staged.withColumn("__staged", lit(true)).alias("t"),
        col("e.id") === col("t.id"), "full_outer")
      .select(cols.map { c =>
        when(col("t.id").isNotNull, col(s"t.$c")).otherwise(col(s"e.$c")).as(c)
      } ++ Seq((!inStaged).as("__deleted"), (!inLive).as("__inserted"),
        (inLive && inStaged && Temporal.anyColumnDistinct("t", "e", cols.filterNot(_ == "id")))
          .as("__updated")): _*)
      .cache()
    val n = unpersistOnFailure(Seq(flagged)) {
      flagged.agg(count(when(col("__deleted"), 1)), count(when(col("__inserted"), 1)),
        count(when(col("__updated"), 1)), count(lit(1))).head()
    }
    MergeJoin(flagged.select(cols.map(col): _*),
      MergeCounts(n.getLong(0), n.getLong(1), n.getLong(2), n.getLong(3)), flagged)
  }

  /** Full lifecycle for one CSV extract against the current live
    * snapshot. Aborts (returns report.failed, nothing written) exactly
    * where the reference raises. The caller commits `merged`, then
    * calls `release()`. */
  def importTable(spark: SparkSession, spec: TableSpec, csvPath: String,
      parents: Map[String, DataFrame], live: Option[DataFrame]): ImportResult = {
    val raw = CsvSource.scan(spark, csvPath,
      CsvSource.stringSchema(spec.sourceCols.map(_._1)))
    val tagged = tag(raw, spec, parents).cache()
    val (staged, rejected) = split(tagged)
    val join = unpersistOnFailure(Seq(tagged))(live.map(mergeJoin(_, staged)))
    val cached = tagged +: join.map(_.cached).toSeq
    val (report, counts) = unpersistOnFailure(cached)(validate(tagged, join.map(_.counts)))
    if (report.failed)
      return ImportResult(live.getOrElse(staged.limit(0)), rejected, report,
        0, 0, 0, counts.rejectedBy, cached)
    val (merged, m) = join.map(j => (j.merged, j.counts))
      .getOrElse((staged, MergeCounts(0, counts.staged, 0, counts.staged)))
    ImportResult(merged, rejected, report, m.inserted, m.updated, m.merged,
      counts.rejectedBy, cached)
  }

  /** `body`, or, when it throws, `cached` unpersisted and the error
    * rethrown: a failed action returns no [[ImportResult]] whose
    * `release()` could drop them. */
  private def unpersistOnFailure[A](cached: Seq[DataFrame])(body: => A): A =
    try body catch { case NonFatal(e) => cached.foreach(_.unpersist()); throw e }

  /** Commits `df` as the snapshot at `dir` ([[DirCommit]]): a crash
    * leaves either the previous snapshot or this one, never neither.
    * Parquet overwrite alone is not transactional. */
  def commitSnapshot(df: DataFrame, dir: String): Unit =
    DirCommit.commit(dir)(df.write.mode("overwrite").parquet(_))
}
