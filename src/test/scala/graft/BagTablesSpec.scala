package graft

import org.apache.spark.sql.functions._
import graft.model.BagTables
import graft.pipeline.ImportPipeline

/** The full 15-table BAG registry (SURVEY.md §1.2/§1.4): structural
  * invariants against the reference's DDL/task list, plus one
  * registry-spec end-to-end through the generic pipeline. */
class BagTablesSpec extends SparkSuite {
  import spark.implicits._

  test("registry: 13 CSV specs + seed + bridge = the reference's 15 tables") {
    assert(BagTables.loadOrder.size == 13)
    assert(BagTables.loadOrder.map(_.name).distinct.size == 13)
    // gemeente is the literal seed; verblijfsobjectpandrelatie is
    // derived (J6) — 13 + 2 = 15
    assert(!BagTables.loadOrder.exists(_.name == "gemeente"))
    assert(BagTables.gemeenteSeed(spark).count() == 1)
  }

  test("registry: loadOrder is a topological sort of the FK DAG") {
    val seen = scala.collection.mutable.Set("gemeente") // seed loads first
    BagTables.loadOrder.foreach { s =>
      s.fks.foreach { fk =>
        assert(seen.contains(fk.parentTable),
          s"${s.name} references ${fk.parentTable} before it is loaded")
      }
      seen += s.name
    }
  }

  test("registry: temporal block, geometry types, and FK counts match the reference") {
    BagTables.loadOrder.foreach { s =>
      assert(s.sourceCols.take(5).map(_._2) == Seq("identificatie",
        "volgnummer", "registratiedatum", "begin_geldigheid", "eind_geldigheid"),
        s"${s.name} temporal block")
    }
    val geo = BagTables.loadOrder
      .map(s => s.name -> s.geometry.map(_.targetType)).toMap
    assert(geo("wijk").contains("MULTIPOLYGON"))
    assert(geo("ligplaats").contains("POLYGON"))       // geotype="polygon"
    assert(geo("verblijfsobject").contains("POINT"))   // geotype="point"
    assert(geo("nummeraanduiding").isEmpty)            // no geometrie column
    val fkCount = BagTables.loadOrder.map(s => s.name -> s.fks.size).toMap
    assert(fkCount("wijk") == 2 && fkCount("buurt") == 3)
    assert(fkCount("nummeraanduiding") == 4)
    assert(fkCount("pand") == 0)        // task has no references kwarg
    assert(fkCount("woonplaats") == 0)  // `use=` kwarg silently ignored
  }

  test("registry stadsdeel spec end-to-end: versioned FK id built and checked") {
    val header = BagTables.stadsdeel.sourceCols.map(_._1)
    def row(vals: Map[String, String]) = header.map(h => vals.getOrElse(h, ""))
    val rows = Seq(
      row(Map("identificatie" -> "SDL1", "volgnummer" -> "1",
        "registratiedatum" -> "2020-01-01 00:00:00",
        "beginGeldigheid" -> "2020-01-01", "naam" -> "Centrum",
        "code" -> "A", "ligtIn:BRK.GME.identificatie" -> "0363",
        "ligtIn:BRK.GME.volgnummer" -> "")),   // empty volg -> "1" default
      row(Map("identificatie" -> "SDL2", "volgnummer" -> "1",
        "registratiedatum" -> "2020-01-01 00:00:00",
        "beginGeldigheid" -> "2020-01-01", "naam" -> "Nergens",
        "code" -> "B", "ligtIn:BRK.GME.identificatie" -> "9999",
        "ligtIn:BRK.GME.volgnummer" -> "1")),  // unknown gemeente -> reject
      row(Map("identificatie" -> "SDL3", "volgnummer" -> "1",
        "registratiedatum" -> "2020-01-01 00:00:00",
        "beginGeldigheid" -> "2020-01-01", "naam" -> "Zonder",
        "code" -> "C")))                       // null FK -> passes (:231)
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row(_: _*))),
      org.apache.spark.sql.types.StructType(header.map(h =>
        org.apache.spark.sql.types.StructField(h, org.apache.spark.sql.types.StringType))))
    val parents = Map("gemeente" -> BagTables.gemeenteSeed(spark))
    val (clean, rejected) = ImportPipeline.clean(raw, BagTables.stadsdeel, parents)
    val ok = clean.select($"identificatie", $"gemeente_id").as[(String, String)]
      .collect().toMap
    assert(ok.keySet == Set("SDL1", "SDL3"))
    assert(ok("SDL1") == "0363_001")  // versioned id, default volgnummer
    assert(ok("SDL3") == null)        // null FK passes unchecked
    val rej = rejected.select($"id", $"reject_reason").as[(String, String)].collect()
    assert(rej.toSeq == Seq(("SDL2_001", "fk_miss:gemeente_id")))
  }

  test("registry: emptySnapshot schema matches the cleaned schema for every table") {
    // the restart path preloads absent parents as emptySnapshot frames;
    // any drift from the real clean() output schema would break FK
    // resolution or the committed-snapshot union silently. emptySnapshot
    // takes no parents: the FK checks must add no column to clean()'s
    val parents = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame](
      "gemeente" -> BagTables.gemeenteSeed(spark))
    BagTables.loadOrder.foreach { spec =>
      val empty = ImportPipeline.emptySnapshot(spark, spec)
      val raw = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        graft.sources.CsvSource.stringSchema(spec.sourceCols.map(_._1)))
      val cleaned = ImportPipeline.clean(raw, spec, parents.toMap)._1.schema
      // StructField equality covers name, type, nullability and metadata
      assert(empty.schema == cleaned, spec.name)
      spec.geometry.foreach { g =>
        assert(empty.schema(g.col).metadata.getLong("srid") == g.srid, spec.name)
        assert(empty.schema(g.col).metadata.getString("geom_type") == g.targetType, spec.name)
      }
      // FK key columns present with string type (what semiJoinFk joins on)
      spec.fks.foreach { fk =>
        assert(empty.schema.fieldNames.contains(fk.childCol),
          s"${spec.name}: missing FK column ${fk.childCol}")
      }
      // every declared target column materializes
      spec.targetCols.foreach { c =>
        assert(empty.schema.fieldNames.contains(c),
          s"${spec.name}: missing target column $c")
      }
      assert(empty.count() == 0)
      parents(spec.name) = empty
    }
  }

  test("registry: non-numeric ref volgnummer aborts like the reference's int()") {
    // reference: `int(volgnummer or "1")` — empty defaults to 1 (covered
    // above), non-numeric raises ValueError and kills the task. Our
    // mirror must fail the job at the first action, not silently mint a
    // _001 id.
    val header = BagTables.stadsdeel.sourceCols.map(_._1)
    def row(vals: Map[String, String]) = header.map(h => vals.getOrElse(h, ""))
    val rows = Seq(row(Map("identificatie" -> "SDL1", "volgnummer" -> "1",
      "registratiedatum" -> "2020-01-01 00:00:00",
      "beginGeldigheid" -> "2020-01-01", "naam" -> "Centrum", "code" -> "A",
      "ligtIn:BRK.GME.identificatie" -> "0363",
      "ligtIn:BRK.GME.volgnummer" -> "abc")))
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row(_: _*))),
      org.apache.spark.sql.types.StructType(header.map(h =>
        org.apache.spark.sql.types.StructField(h, org.apache.spark.sql.types.StringType))))
    val parents = Map("gemeente" -> BagTables.gemeenteSeed(spark))
    val (clean, _) = ImportPipeline.clean(raw, BagTables.stadsdeel, parents)
    val ex = intercept[Exception] { clean.count() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m =>
      m != null && m.contains("non-numeric volgnummer")))
  }
}
