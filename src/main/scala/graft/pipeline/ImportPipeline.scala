package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
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
  *  - the merge is a snapshot rewrite committed via temp-dir + atomic
  *    rename (§7.4.3) instead of an in-place SQL transaction
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

  private val v = VersionedCols()

  /** The column [[tag]] adds: the first check a row fails, or null. */
  val Reason = "reject_reason"

  /** The tag of a row whose validity range is neither valid nor invalid
    * (a null begin under a set end): such a row stays out of both splits
    * of [[clean]] and out of every count. */
  private val UndecidedRange = "undecided_date_range"

  /** Parse, clean and check one raw (all-string) frame per the reference
    * row pipeline (P1-P7): rename, parse the temporal block, synthesize
    * id, then tag each row with the first check it fails, in order:
    * `malformed_csv` (when `raw` carries [[CsvSource.CorruptCol]]), the
    * validity range, the geometry, and each FK in turn. Extra columns
    * are computed only for rows not yet rejected, so an extra column
    * that raises on bad input (a non-numeric ref volgnummer) only does
    * so for a row that would otherwise load. */
  def tag(raw: DataFrame, spec: TableSpec,
      parents: Map[String, DataFrame]): DataFrame = {
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
    val typed = renamed
      .withColumn("volgnummer", when(open, volg.cast("int")).otherwise(volg.try_cast("int")))
      .withColumn("registratiedatum", parsers.parseDateTime(col("registratiedatum")))
      .withColumn(v.begin, parsers.parseDate(col(v.begin)))
      .withColumn(v.eind, parsers.parseDate(col(v.eind)))
      .withColumn("id", parsers.createId(col(v.identificatie), col("volgnummer")))
    // P3 validity range
    val valid = parsers.isValidDateRange(col(v.begin), col(v.eind))
    val ranged = typed.withColumn(Reason, when(!open, reason)
      .when(valid, lit(null)).when(!valid, lit("invalid_date_range"))
      .otherwise(lit(UndecidedRange)))
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
      ranged
        .withColumn("__geom_cast", when(open && hasText && !sridBad,
          geofunctions.st_castto(col(g.col), g.targetType)))
        .withColumn(Reason, when(open && hasText && col("__geom_cast").isNull,
          when(sridBad, lit("srid_mismatch")).otherwise(lit("invalid_geometry")))
          .otherwise(reason))
        .withColumn(g.col, col("__geom_cast")).drop("__geom_cast")
        .withMetadata(g.col, new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("srid", g.srid.toLong)
          .putString("geom_type", g.targetType.toUpperCase).build())
    }
    // P5 extra columns
    val extra = spec.extraCols.foldLeft(located) { case (df, (name, expr)) =>
      df.withColumn(name, when(open, expr))
    }
    // J1 FK checks, in turn: one left join per FK against the
    // parent's distinct keys; a null FK passes (bagh/batch.py:231)
    spec.fks.foldLeft(extra) {
      case (df, FkSpec(child, parentName, parentKey, bcast)) =>
        val keys0 = parents(parentName).select(col(parentKey).as("__pk")).distinct()
        val keys = if (bcast) broadcast(keys0) else keys0
        df.join(keys, col(child) === col("__pk"), "left")
          .withColumn(Reason, when(open && col(child).isNotNull && col("__pk").isNull,
            lit(s"fk_miss:$child")).otherwise(reason))
          .drop("__pk")
    }
  }

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
    * the schema of `clean()` over an empty raw extract, on a
    * LocalRelation, so neither a job nor the parents' plans come with
    * it. Used to preload absent parents on a named-task restart: FK
    * checks against it reject honestly instead of the `parents` lookup
    * throwing (reference batch/batch.py:19-30 `--bagh_start`). */
  def emptySnapshot(spark: SparkSession, spec: TableSpec,
      parents: Map[String, DataFrame]): DataFrame = {
    val raw = spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      CsvSource.stringSchema(spec.sourceCols.map(_._1)))
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      clean(raw, spec, parents)._1.schema)
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
    val n = flagged.agg(count(when(col("__deleted"), 1)), count(when(col("__inserted"), 1)),
      count(when(col("__updated"), 1)), count(lit(1))).head()
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
    val join = live.map(mergeJoin(_, staged))
    val (report, counts) = validate(tagged, join.map(_.counts))
    val cached = tagged +: join.map(_.cached).toSeq
    if (report.failed)
      return ImportResult(live.getOrElse(staged.limit(0)), rejected, report,
        0, 0, 0, counts.rejectedBy, cached)
    val (merged, m) = join.map(j => (j.merged, j.counts))
      .getOrElse((staged, MergeCounts(0, counts.staged, 0, counts.staged)))
    ImportResult(merged, rejected, report, m.inserted, m.updated, m.merged,
      counts.rejectedBy, cached)
  }

  /** Atomic-ish snapshot commit (§7.4.3): write to a temp dir next to
    * the target, then rename over it. Parquet overwrite alone is not
    * transactional; rename of a directory on one filesystem is the
    * closest safe primitive without a table format. */
  def commitSnapshot(df: DataFrame, targetDir: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = targetDir + ".staging"
    df.write.mode("overwrite").parquet(tmp)
    val target = Paths.get(targetDir)
    if (Files.exists(target)) {
      val old = Paths.get(targetDir + ".old")
      if (Files.exists(old)) {
        Files.walk(old).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
      Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
    }
    Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Sequential job runner with named-task restart — the reference's
    * `--bagh_start` skip semantics (batch/batch.py:19-30). */
  def runJob(tasks: Seq[(String, () => Unit)], startAt: Option[String] = None): Seq[String] = {
    val toRun = startAt match {
      case Some(s) => tasks.dropWhile(_._1 != s)
      case None => tasks
    }
    toRun.map { case (name, fn) => fn(); name }
  }
}
