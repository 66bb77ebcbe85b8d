package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.model.{FkSpec, GeoSpec, TableSpec}
import graft.pipeline.ImportPipeline
import graft.sources.CsvSource

/** GOB-dialect CSV source + end-to-end importTable over the wijk
  * fixture of FIXTURES.md §1: valid 2-version history, invalid range,
  * Polygon promotion, wrong-type geometry, FK miss, null FK pass;
  * idempotent re-run; abort paths. */
class CsvPipelineSpec extends SparkSuite {
  import spark.implicits._

  private val header =
    "identificatie;volgnummer;registratiedatum;beginGeldigheid;eindGeldigheid;" +
      "naam;cbsCode;geometrie;ligtIn:GBD.SDL.identificatie;ligtIn:GBD.GGW.identificatie"

  private val rows = Seq(
    // W1: clean 2-version history (v1 closed, v2 open)
    "W1;1;2020-01-01 10:00:00;2020-01-01;2021-01-01;Centrum;WK01;POLYGON ((0 0, 4 0, 4 4, 0 0));SDL1;GGW1",
    "W1;2;2021-01-01 10:00:00;2021-01-01;;Centrum;WK01;POLYGON ((0 0, 4 0, 4 5, 0 0));SDL1;GGW1",
    // W2: begin > eind -> rejected (invalid_date_range)
    "W2;1;2020-01-01 10:00:00;2021-06-01;2020-01-01;Zuid;WK02;POLYGON ((0 0, 1 0, 1 1, 0 0));SDL1;GGW1",
    // W3: quoted field containing the delimiter
    "W3;1;2020-01-01 10:00:00;2020-01-01;;\"Noord; West\";WK03;MULTIPOLYGON (((0 0, 2 0, 2 2, 0 0)));SDL2;GGW1",
    // W4: wrong geometry type (POINT vs MULTIPOLYGON) -> rejected
    "W4;1;2020-01-01 10:00:00;2020-01-01;;Oost;WK04;POINT (1 2);SDL1;GGW1",
    // W5: FK miss (no SDL9 parent) -> rejected
    "W5;1;2020-01-01 10:00:00;2020-01-01;;West;WK05;POLYGON ((0 0, 1 0, 1 1, 0 0));SDL9;GGW1",
    // W6: empty GGW FK -> passes (null FK passes the check)
    "W6;1;2020-01-01 10:00:00;2020-01-01;;Haven;WK06;POLYGON ((0 0, 1 0, 1 1, 0 0));SDL2;",
    // W7: EWKT with the pinned SRID -> accepted, prefix stripped (quoted: EWKT ';')
    "W7;1;2020-01-01 10:00:00;2020-01-01;;Sloten;WK07;\"SRID=28992;POLYGON ((0 0, 3 0, 3 3, 0 0))\";SDL1;GGW1",
    // W8: EWKT declaring a FOREIGN srid -> rejected (PostGIS would refuse
    // the insert into geometry(MultiPolygon,28992) — bagh_create.sql:37)
    "W8;1;2020-01-01 10:00:00;2020-01-01;;Osdorp;WK08;\"SRID=4326;POLYGON ((0 0, 1 0, 1 1, 0 0))\";SDL1;GGW1")

  private def writeCsv(dir: String, name: String, lines: Seq[String]): String = {
    Files.createDirectories(Paths.get(dir))
    val p = Paths.get(dir, name)
    // utf-8-sig: BOM prefix, as the GOB extracts ship it (csv.py:75)
    Files.write(p, ("﻿" + lines.mkString("\n")).getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  private val wijkSpec = TableSpec(
    name = "wijk",
    sourceCols = Seq(
      "identificatie" -> "identificatie",
      "volgnummer" -> "volgnummer",
      "registratiedatum" -> "registratiedatum",
      "beginGeldigheid" -> "begin_geldigheid",
      "eindGeldigheid" -> "eind_geldigheid",
      "naam" -> "naam",
      "cbsCode" -> "cbs_code",
      "geometrie" -> "geometrie",
      "ligtIn:GBD.SDL.identificatie" -> "stadsdeel_id",
      "ligtIn:GBD.GGW.identificatie" -> "ggw_id"),
    fks = Seq(
      FkSpec("stadsdeel_id", "stadsdeel", "identificatie"),
      FkSpec("ggw_id", "ggw_gebied", "identificatie")),
    geometry = Some(GeoSpec("geometrie", "MULTIPOLYGON")))

  private lazy val parents = Map(
    "stadsdeel" -> Seq("SDL1", "SDL2").toDF("identificatie"),
    "ggw_gebied" -> Seq("GGW1").toDF("identificatie"))

  test("CSV source: GOB dialect (BOM, ';', quotes), dead-letter on malformed") {
    val dir = Files.createTempDirectory("graftcsv").toString
    val path = writeCsv(dir, "wijk.csv",
      header +: (rows :+ "BROKEN;row;with;too;many;fields;a;b;c;d;e;f"))
    val read = CsvSource.read(spark, path,
      CsvSource.stringSchema(header.split(";").toSeq))
    assert(read.clean.count() == rows.size)
    val rej = read.rejected.collect()
    assert(rej.length == 1 && rej.head.getString(2) == "malformed_csv")
    // BOM must not corrupt the first header name
    assert(read.clean.columns.head == "identificatie")
    // quoted delimiter survives
    assert(read.clean.filter($"identificatie" === "W3")
      .select($"naam").as[String].head() == "Noord; West")
    // max_rows cap (reference csv.py:70)
    assert(CsvSource.read(spark, path,
      CsvSource.stringSchema(header.split(";").toSeq), maxRows = Some(3))
      .clean.count() <= 3)
  }

  test("strict mode (FAILFAST) aborts on the first malformed row (S2 strict)") {
    val dir = Files.createTempDirectory("graftstrict").toString
    val path = writeCsv(dir, "bad.csv",
      header +: (rows :+ "BROKEN;row;with;too;many;fields;a;b;c;d;e;f"))
    val read = CsvSource.read(spark, path,
      CsvSource.stringSchema(header.split(";").toSeq), strict = true)
    intercept[org.apache.spark.SparkException] { read.clean.count() }
  }

  test("S8 DDL executor: statement-at-a-time CREATE/DROP via spark.sql") {
    val wh = Files.createTempDirectory("graftddl").toString
    val ddl = Seq(
      "DROP TABLE IF EXISTS graft_ddl_demo",
      s"CREATE TABLE graft_ddl_demo (id BIGINT, naam STRING) USING parquet LOCATION '$wh/t'")
    ddl.foreach(spark.sql(_))  // bagh/batch.py:276-287 shape
    spark.sql("INSERT INTO graft_ddl_demo VALUES (1, 'x'), (2, 'y')")
    assert(spark.table("graft_ddl_demo").count() == 2)
    spark.sql("DROP TABLE graft_ddl_demo")
  }

  test("importTable end-to-end: rejects with reasons, promote, merge, idempotent re-run") {
    val dir = Files.createTempDirectory("graftimp").toString
    val path = writeCsv(dir, "wijk.csv", header +: rows)

    val r1 = ImportPipeline.importTable(spark, wijkSpec, path, parents, live = None)
    assert(!r1.report.failed)
    val rejects = r1.rejected.select($"id", $"reject_reason")
      .as[(String, String)].collect().toMap
    assert(rejects == Map(
      "W2_001" -> "invalid_date_range",
      "W4_001" -> "invalid_geometry",
      "W5_001" -> "fk_miss:stadsdeel_id",
      "W8_001" -> "srid_mismatch"))
    val merged = r1.merged.cache()
    assert(merged.count() == 5) // W1 v1+v2, W3, W6, W7
    // EWKT accepted at the pinned SRID, prefix stripped, promoted
    assert(merged.filter($"id" === "W7_001").select($"geometrie").as[String]
      .head() == "MULTIPOLYGON (((0 0, 3 0, 3 3, 0 0)))")
    // the column carries the PostGIS-type metadata geometry(...,28992)
    val meta = merged.schema("geometrie").metadata
    assert(meta.getLong("srid") == 28992L &&
      meta.getString("geom_type") == "MULTIPOLYGON")
    // Polygon promoted to MultiPolygon
    val g = merged.filter($"id" === "W1_001").select($"geometrie").as[String].head()
    assert(g == "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 0)))")
    // synthetic id zero-padded
    assert(merged.filter($"identificatie" === "W1").select($"id")
      .as[String].collect().sorted.toSeq == Seq("W1_001", "W1_002"))

    // re-run against the merged snapshot: 0 inserted, 0 updated
    val r2 = ImportPipeline.importTable(spark, wijkSpec, path, parents, Some(merged))
    assert(!r2.report.failed)
    assert(r2.inserted == 0 && r2.updated == 0)
    assert(r2.report.warnings.exists(_.startsWith("overlapping_ranges")) == false)
  }

  test("abort: duplicate open versions stop the merge before any write") {
    val dir = Files.createTempDirectory("graftdup").toString
    val dupRows = Seq(
      "D1;1;2020-01-01 10:00:00;2020-01-01;;Een;WK;POLYGON ((0 0, 1 0, 1 1, 0 0));SDL1;GGW1",
      "D1;2;2021-01-01 10:00:00;2021-01-01;;Twee;WK;POLYGON ((0 0, 1 0, 1 1, 0 0));SDL1;GGW1")
    val path = writeCsv(dir, "dup.csv", header +: dupRows)
    val r = ImportPipeline.importTable(spark, wijkSpec, path, parents, None)
    assert(r.report.failed)
    assert(r.report.errors.exists(_.startsWith("duplicate_open_versions")))
  }

  test("abort: history shrink (deleted rows) is detected against live") {
    val dir = Files.createTempDirectory("graftdel").toString
    val path = writeCsv(dir, "one.csv", header +: rows.take(2)) // only W1
    val live = Seq(("GONE_001", "GONE", 1)).toDF("id", "identificatie", "volgnummer")
    val r = ImportPipeline.importTable(spark, wijkSpec, path, parents, Some(live))
    assert(r.report.failed)
    assert(r.report.errors.exists(_.startsWith("deleted_history_rows")))
  }

  test("verblijfsobject fixture: arrays, int_or_none, M:N bridge explode (FIXTURES.md §1.2)") {
    import graft.functions.parsers
    import graft.ops.Relational
    val vboHeader = "identificatie;volgnummer;registratiedatum;beginGeldigheid;" +
      "eindGeldigheid;oppervlakte;gebruiksdoel;toegang;redenopvoer;" +
      "ligtIn:BAG.PND.identificatie;ligtIn:BAG.PND.volgnummer"
    val vboRows = Seq(
      // gebruiksdoel pipe-list -> array; 2-elem pand list, one invalid pand
      "V1;1;2020-01-01 10:00:00;2020-01-01;;120;woonfunctie|kantoorfunctie;;opv;P1|P9;1|2",
      // oppervlakte 'abc' and '-5' -> null (int_or_none)
      "V2;1;2020-01-01 10:00:00;2020-01-01;;abc;woonfunctie;trap;opv;P2;1",
      "V3;1;2020-01-01 10:00:00;2020-01-01;;-5;;lift|trap;opv;;")
    val dir = Files.createTempDirectory("graftvbo").toString
    val path = writeCsv(dir, "vbo.csv", vboHeader +: vboRows)
    val vboSpec = TableSpec(
      name = "verblijfsobject",
      sourceCols = Seq(
        "identificatie" -> "identificatie", "volgnummer" -> "volgnummer",
        "registratiedatum" -> "registratiedatum",
        "beginGeldigheid" -> "begin_geldigheid",
        "eindGeldigheid" -> "eind_geldigheid",
        "oppervlakte" -> "oppervlakte_raw",
        "gebruiksdoel" -> "gebruiksdoel_raw", "toegang" -> "toegang_raw",
        // reference bug preserved on purpose: redenafvoer is sourced
        // from redenopvoer (bagh/batch.py:559-560)
        "redenopvoer" -> "redenopvoer",
        "ligtIn:BAG.PND.identificatie" -> "pand_ids_raw",
        "ligtIn:BAG.PND.volgnummer" -> "pand_nums_raw"),
      extraCols = Seq(
        "oppervlakte" -> parsers.intOrNone(col("oppervlakte_raw")),
        // reference keeps split("") == [""] for gebruiksdoel but [] for
        // toegang (bagh/batch.py:547,556-558)
        "gebruiksdoel" -> parsers.pipeSplit(col("gebruiksdoel_raw"), emptyAsNil = false),
        "toegang" -> parsers.pipeSplit(col("toegang_raw"), emptyAsNil = true),
        "redenafvoer" -> col("redenopvoer"),
        "pand_refs" -> parsers.createIds(col("pand_ids_raw"), col("pand_nums_raw"))))
    val (clean, rejected) = ImportPipeline.clean(
      CsvSource.read(spark, path,
        CsvSource.stringSchema(vboHeader.split(";").toSeq)).clean,
      vboSpec, Map.empty)
    assert(rejected.count() == 0)
    val byId = clean.collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(byId("V1_001").getSeq[String](
      clean.columns.indexOf("gebruiksdoel")).toList ==
      List("woonfunctie", "kantoorfunctie"))
    assert(byId("V1_001").getSeq[String](clean.columns.indexOf("toegang")).isEmpty)
    assert(byId("V2_001").isNullAt(clean.columns.indexOf("oppervlakte")))
    assert(byId("V3_001").isNullAt(clean.columns.indexOf("oppervlakte")))
    assert(byId("V2_001").getAs[String]("redenafvoer") == "opv")

    // M:N bridge: pand P9 does not exist -> one pair kept, one dropped
    val pand = Seq("P1_001", "P2_001").toDF("id")
    val bridge = Relational.explodeRelation(
      clean.filter(col("pand_refs").isNotNull), "id", "pand_refs", pand, "id")
    val pairs = bridge.select($"id").as[String].collect().sorted.toSeq
    assert(pairs == Seq("V1_001_P1_001", "V2_001_P2_001"))
  }

  test("S5 freshness cache: fetch only when stale (objectstore.py:57-62)") {
    val dir = Files.createTempDirectory("graftfresh").toString
    val p = s"$dir/data.csv"
    var fetches = 0
    def fetch(path: String): Unit = {
      fetches += 1
      Files.write(Paths.get(path), "x".getBytes(StandardCharsets.UTF_8))
    }
    assert(CsvSource.freshOrFetch(p, 24)(fetch))   // missing -> fetched
    assert(!CsvSource.freshOrFetch(p, 24)(fetch))  // fresh -> skipped
    assert(fetches == 1)
    Paths.get(p).toFile.setLastModified(
      System.currentTimeMillis() - 25 * 3600 * 1000)
    assert(CsvSource.freshOrFetch(p, 24)(fetch))   // stale -> re-fetched
    assert(fetches == 2)
  }

  test("commitSnapshot: write, swap, survive re-commit") {
    val dir = Files.createTempDirectory("graftsnap").toString + "/t"
    val df1 = Seq((1, "a")).toDF("k", "v")
    ImportPipeline.commitSnapshot(df1, dir)
    assert(spark.read.parquet(dir).count() == 1)
    val df2 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    ImportPipeline.commitSnapshot(df2, dir)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("S10 JSONL source: typed scan + dead-letter split from one plan") {
    import graft.sources.JsonlSource
    import org.apache.spark.sql.types.StructType
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      Seq(
        """{"id": 1, "text": "hello world", "score": 3}""",
        """{"id": 2, "text": "truncated""", // unterminated string
        """not json at all""",
        """{"id": 4, "text": "ok", "score": null}""",
        // type mismatch on a declared column is ALSO a dead letter
        """{"id": "five", "text": "bad id", "score": 1}"""
      ).mkString("\n").getBytes("UTF-8"))
    val r = JsonlSource.read(spark, s"$dir/docs.jsonl",
      StructType.fromDDL("id BIGINT, text STRING, score BIGINT"))
    val clean = r.clean.orderBy("id").collect()
    assert(clean.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(clean(0).getString(1) == "hello world" && clean(0).getLong(2) == 3L)
    assert(clean(1).isNullAt(2))
    val badRows = r.rejected.collect()
    val bad = badRows.map(_.getString(0)).sorted.toSeq
    assert(bad.size == 3 && bad.exists(_.contains("not json")) &&
      bad.exists(_.contains("truncated")) && bad.exists(_.contains("five")))
    assert(badRows.forall(_.getString(2) == "malformed_jsonl"))
    // the clean branch's scan does not carry the corrupt column
    assert(!r.clean.columns.contains("_graft_bad_record"))
  }
}
