package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.parsers
import graft.geo.geofunctions
import graft.model.{BagTables, FkSpec, GeoSpec, TableSpec}
import graft.ops.{Relational, Temporal, VersionedCols}
import graft.pipeline.ImportPipeline

/** The filter chain `ImportPipeline.tag` replaced: one filter, semi-join
  * and anti-join per check, each reject reason its own frame. Kept here
  * only as the witness the tagged pass is compared with. */
object FilterChain {
  private val v = VersionedCols()

  def clean(raw: DataFrame, spec: TableSpec,
      parents: Map[String, DataFrame]): (DataFrame, DataFrame) = {
    val renamed = raw.select(spec.sourceCols.map { case (s, t) => col(s"`$s`").as(t) }: _*)
    val typed = renamed
      .withColumn("volgnummer", col("volgnummer").cast("int"))
      .withColumn("registratiedatum", parsers.parseDateTime(col("registratiedatum")))
      .withColumn(v.begin, parsers.parseDate(col(v.begin)))
      .withColumn(v.eind, parsers.parseDate(col(v.eind)))
      .withColumn("id", parsers.createId(col(v.identificatie), col("volgnummer")))
    val badRange = typed.filter(!parsers.isValidDateRange(col(v.begin), col(v.eind)))
      .select(col("id"), lit("invalid_date_range").as("reject_reason"))
    val rangeOk = typed.filter(parsers.isValidDateRange(col(v.begin), col(v.eind)))
    val (geomOk, badGeom) = spec.geometry match {
      case Some(g) =>
        val cast = geofunctions.st_castto(col(g.col), g.targetType)
        val declared = geofunctions.st_srid(col(g.col))
        val hasText = parsers.emptyToNull(col(g.col)).isNotNull
        val sridBad = hasText && declared.isNotNull && declared =!= lit(g.srid)
        val df = rangeOk.withColumn("__geom_cast",
          when(!hasText || sridBad, lit(null)).otherwise(cast))
        val bad = df.filter(hasText && col("__geom_cast").isNull)
          .select(col("id"), when(sridBad, lit("srid_mismatch"))
            .otherwise(lit("invalid_geometry")).as("reject_reason"))
        val ok = df.filter(!hasText || col("__geom_cast").isNotNull)
          .withColumn(g.col, col("__geom_cast")).drop("__geom_cast")
          .withMetadata(g.col, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("srid", g.srid.toLong)
            .putString("geom_type", g.targetType.toUpperCase).build())
        (ok, bad)
      case None => (rangeOk, rangeOk.limit(0)
        .select(col("id"), lit("").as("reject_reason")))
    }
    val extra = spec.extraCols.foldLeft(geomOk) { case (df, (name, expr)) =>
      df.withColumn(name, expr)
    }
    val (fkOk, fkBad) = spec.fks.foldLeft((extra, Seq.empty[DataFrame])) {
      case ((df, bad), FkSpec(child, parentName, parentKey, bcast)) =>
        val parent = parents(parentName)
        val ok = Relational.semiJoinFk(df, child, parent, parentKey, bcast)
        val miss = Relational.fkViolations(df, child, parent, parentKey, bcast)
          .select(col("id"), lit(s"fk_miss:$child").as("reject_reason"))
        (ok, bad :+ miss)
    }
    val rejected = (Seq(badRange, badGeom) ++ fkBad)
      .reduce(_ unionByName _)
      .filter(col("reject_reason") =!= "")
    (fkOk, rejected)
  }
}

/** Differential tests: the tagged pass, the fused validation window and
  * the one-join merge counts against the operators they replace. */
class ImportPipelineSpec extends SparkSuite {
  import spark.implicits._

  private val spec = TableSpec(
    name = "wijk",
    sourceCols = Seq(
      "identificatie" -> "identificatie", "volgnummer" -> "volgnummer",
      "registratiedatum" -> "registratiedatum",
      "beginGeldigheid" -> "begin_geldigheid", "eindGeldigheid" -> "eind_geldigheid",
      "naam" -> "naam", "geometrie" -> "geometrie",
      "sdl" -> "stadsdeel_id", "ggw" -> "ggw_id"),
    extraCols = Seq("naam_lengte" -> length(col("naam")),
      "naam_delen" -> parsers.pipeSplit(col("naam"), emptyAsNil = false)),
    fks = Seq(FkSpec("stadsdeel_id", "stadsdeel", "identificatie"),
      FkSpec("ggw_id", "ggw_gebied", "identificatie")),
    geometry = Some(GeoSpec("geometrie", "MULTIPOLYGON")))

  private lazy val parents = Map(
    "stadsdeel" -> Seq("SDL1", "SDL2").toDF("identificatie"),
    "ggw_gebied" -> Seq("GGW1", "GGW1").toDF("identificatie"))

  private val sq = "POLYGON ((0 0, 1 0, 1 1, 0 0))"
  // (identificatie, volgnummer, begin, eind, naam, geometrie, sdl, ggw)
  private val rawRows = Seq[Seq[String]](
    Seq("W1", "1", "2020-01-01", "2021-01-01", "Centrum", sq, "SDL1", "GGW1"),
    Seq("W1", "2", "2021-01-01", null, "Centrum", sq, "SDL1", "GGW1"),
    // a rejected open version: no duplicate, no overlap for W1
    Seq("W1", "3", "2022-01-01", null, "Centrum", "POINT (1 2)", "SDL1", "GGW1"),
    // tied begin values, both open: a duplicate open version
    Seq("W2", "1", "2020-01-01", null, "Zuid", sq, "SDL1", null),
    Seq("W2", "2", "2020-01-01", null, "Zuid|Oost", sq, "SDL2", "GGW1"),
    // overlapping closed versions
    Seq("W3", "1", "2020-01-01", "2022-01-01", "Noord", null, "SDL2", "GGW1"),
    Seq("W3", "2", "2021-01-01", "2023-01-01", "Noord", "", "SDL2", "GGW1"),
    // null identificatie -> null id, twice (one null-keyed group)
    Seq(null, "1", "2020-01-01", null, "Anon", sq, null, null),
    Seq(null, "2", "2020-02-01", null, "Anon", sq, null, null),
    // invalid range, also a FK miss: the range reason comes first
    Seq("W4", "1", "2021-06-01", "2020-01-01", "Oost", sq, "SDL9", "GGW1"),
    // null range predicate (null begin under a set end): neither split
    Seq("W5", "1", null, "2020-01-01", "West", sq, "SDL1", "GGW1"),
    Seq("W6", "1", "2020-01-01", null, "Haven", "POINT (1 2)", "SDL1", "GGW1"),
    Seq("W7", "1", "2020-01-01", null, "Osdorp", s"SRID=4326;$sq", "SDL1", "GGW1"),
    Seq("W8", "1", "2020-01-01", null, "Sloten", s"SRID=28992;$sq", "SDL1", "GGW1"),
    // second FK miss after a passing first FK
    Seq("W9", "1", "2020-01-01", null, "Spook", sq, "SDL2", "GGW9"))

  private def raw(rows: Seq[Seq[String]]): DataFrame = {
    val header = spec.sourceCols.map(_._1)
    val values = rows.map { r =>
      val m = Map("identificatie" -> r(0), "volgnummer" -> r(1),
        "registratiedatum" -> "2020-01-01 10:00:00", "beginGeldigheid" -> r(2),
        "eindGeldigheid" -> r(3), "naam" -> r(4), "geometrie" -> r(5),
        "sdl" -> r(6), "ggw" -> r(7))
      Row(header.map(m): _*)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(values, 3),
      StructType(header.map(StructField(_, StringType))))
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("tag: clean and rejected splits equal the filter chain, row for row") {
    val (clean, rejected) = ImportPipeline.clean(raw(rawRows), spec, parents)
    val (wClean, wRejected) = FilterChain.clean(raw(rawRows), spec, parents)
    assert(clean.schema == wClean.schema)
    assert(clean.schema("geometrie").metadata == wClean.schema("geometrie").metadata)
    assert(sorted(clean) == sorted(wClean))
    assert(sorted(rejected) == sorted(wRejected))
    val reasons = rejected.as[(String, String)].collect().toMap
    assert(reasons == Map("W1_003" -> "invalid_geometry", "W4_001" -> "invalid_date_range",
      "W6_001" -> "invalid_geometry", "W7_001" -> "srid_mismatch",
      "W9_001" -> "fk_miss:ggw_id"))
    // the null range predicate keeps W5 out of both splits, as before
    assert(!sorted(clean).exists(_.startsWith("W5|")) && !reasons.contains("W5_001"))
    assert(clean.count() == 9)
  }

  test("tag: every registry spec keeps the filter chain's snapshot schema") {
    val parents = scala.collection.mutable.Map[String, DataFrame](
      "gemeente" -> BagTables.gemeenteSeed(spark))
    BagTables.loadOrder.foreach { s =>
      val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(s.sourceCols.map(c => StructField(c._1, StringType))))
      val tagged = ImportPipeline.clean(empty, s, parents.toMap)._1.schema
      val witness = FilterChain.clean(empty, s, parents.toMap)._1.schema
      assert(tagged == witness, s.name)
      s.geometry.foreach(g => assert(tagged(g.col).metadata == witness(g.col).metadata))
      parents(s.name) = ImportPipeline.emptySnapshot(spark, s, parents.toMap)
    }
  }

  test("validate: one window pass counts what duplicateOpenVersions and overlapsWindow count") {
    val tagged = ImportPipeline.tag(raw(rawRows), spec, parents)
    val (report, counts) = ImportPipeline.validate(tagged, None)
    val (staged, rejected) = ImportPipeline.clean(raw(rawRows), spec, parents)
    val dup = Temporal.duplicateOpenVersions(staged).count()
    val overlaps = Temporal.overlapsWindow(staged).count()
    // W2 (tied open begins) and the null-identificatie group
    assert(dup == 2 && overlaps > 0)
    assert(counts.duplicateOpenKeys == dup && counts.overlaps == overlaps)
    assert(report.errors == Seq(s"duplicate_open_versions:$dup"))
    assert(report.warnings == Seq(s"overlapping_ranges:$overlaps"))
    assert(counts.staged == staged.count())
    assert(counts.rejectedBy == rejected.groupBy("reject_reason").count()
      .as[(String, Long)].collect().toMap)
  }

  test("mergeJoin: counts and rows equal detectDeleted, mergeAudit and mergeScd2") {
    val (staged0, _) = ImportPipeline.clean(raw(rawRows), spec, parents)
    val staged = staged0.cache()
    val live = staged
      .filter(!($"id" <=> "W8_001"))                               // W8 is new
      .withColumn("naam", when($"id" === "W3_001", lit("Oud")).otherwise($"naam"))
      .withColumn("naam_lengte", when($"id" === "W1_002", lit(null)).otherwise($"naam_lengte"))
      .unionByName(staged.filter($"id" === "W1_001")
        .withColumn("id", lit("GONE_001")))                         // deleted
    val join = ImportPipeline.mergeJoin(live, staged)
    val audit = Temporal.mergeAudit(live, staged, "id")
    val merged = Temporal.mergeScd2(live, staged, "id")
    assert(join.counts == ImportPipeline.MergeCounts(
      deleted = Temporal.detectDeleted(live, staged, "id").count(),
      inserted = audit.inserted.count(), updated = audit.updated.count(),
      merged = merged.count()))
    // W8 plus the two null-id rows, which never match
    assert(join.counts.inserted == 3 && join.counts.updated == 2 && join.counts.deleted == 3)
    assert(join.merged.schema == merged.schema)
    assert(sorted(join.merged) == sorted(merged))
    join.cached.unpersist(); staged.unpersist()
  }

  test("importTable: ragged CSV rows are rejected as malformed_csv") {
    val dir = Files.createTempDirectory("graft-ragged")
    val header = spec.sourceCols.map(_._1).mkString(";")
    val lines = Seq(header,
      s"W1;1;2020-01-01 10:00:00;2020-01-01;;Centrum;$sq;SDL1;GGW1",
      s"W2;1;2020-01-01 10:00:00;2020-01-01;;Zuid;$sq;SDL9;GGW1",
      s"W3;1;2020-01-01 10:00:00;2020-01-01;;Noord;$sq;SDL1;GGW1;extra",
      s"W4;abc;2020-01-01 10:00:00;2020-01-01;;Oost;$sq")
    val path = dir.resolve("wijk.csv")
    Files.write(path, ("﻿" + lines.mkString("\n")).getBytes(StandardCharsets.UTF_8))
    val r = ImportPipeline.importTable(spark, spec, path.toString, parents, None)
    try {
      assert(!r.report.failed && r.loaded == 1 && r.inserted == 1)
      assert(r.rejectedBy == Map("malformed_csv" -> 2L, "fk_miss:stadsdeel_id" -> 1L))
      assert(r.rejected.count() == r.rejectedRows)
    } finally r.release()
    assert(r.cached.forall(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
  }
}
