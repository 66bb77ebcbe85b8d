package graft.queries

import org.apache.spark.sql.functions._
import graft.geo.geofunctions
import graft.sources.CsvSource
import QuerySpec.table

/** Batch 4: the CSV source (S1 GOB dialect, proven by a parquet→CSV→
  * parquet roundtrip that the oracle computes directly) and the F10
  * geometry expressions under oracle check. */
object SourceGeoQueries {

  val all: Seq[QuerySpec] = Seq(

    // S1: write nation as a ';'-delimited CSV, read it back with the
    // reference dialect (all-string schema + downstream casts), agg.
    QuerySpec("q34_csv_roundtrip",
      (s, dir) => {
        // per-process dir: two JVMs running this gate at once would
        // otherwise overwrite each other's write in flight
        val out = s"/tmp/graft_csv_roundtrip_${math.abs(dir.hashCode)}" +
          s"_${ProcessHandle.current.pid}"
        table(s, dir, "nation")
          .coalesce(1).write.mode("overwrite")
          .option("header", "true").option("delimiter", ";")
          .csv(out)
        val raw = CsvSource.read(s, out,
          CsvSource.stringSchema(Seq("n_nationkey", "n_name", "n_regionkey")))
        raw.clean
          .select(col("n_nationkey").cast("int").as("n_nationkey"),
            col("n_name"), col("n_regionkey").cast("int").as("n_regionkey"))
          .groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"),
            sum(col("n_nationkey")).as("key_sum"))
          .orderBy(col("n_regionkey"))
      },
      Some("""SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) AS first_name,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),

    // S3: |-delimited (id, WKT) file roundtrip through readWktFile +
    // the geometry expressions; oracle recomputes the type histogram.
    QuerySpec("q48_wkt_file_scan",
      (s, dir) => {
        val sz = col("p_size").cast("string")
        val wkt = when(col("p_partkey") % 3 === 0,
            concat(lit("POINT ("), sz, lit(" "), sz, lit(")")))
          .when(col("p_partkey") % 3 === 1,
            concat(lit("POLYGON ((0 0, "), sz, lit(" 0, "), sz, lit(" "), sz,
              lit(", 0 0))")))
          .otherwise(lit("NOTWKT"))
        val out = s"/tmp/graft_wkt_scan_${math.abs(dir.hashCode)}" +
          s"_${ProcessHandle.current.pid}" // per-process, as q34
        table(s, dir, "part").select(col("p_partkey"), wkt.as("wkt"))
          .coalesce(1).write.mode("overwrite")
          .option("delimiter", "|").option("header", "false").csv(out)
        CsvSource.readWktFile(s, out)
          .select(geofunctions.st_geometrytype(col("wkt")).as("gtype"))
          .groupBy(col("gtype")).agg(count(lit(1)).as("n"))
          .orderBy(col("gtype").asc_nulls_last)
      },
      Some("""SELECT CASE WHEN p_partkey % 3 = 0 THEN 'POINT'
        |            WHEN p_partkey % 3 = 1 THEN 'POLYGON' END AS gtype,
        |  COUNT(*) AS n
        |FROM part GROUP BY 1 ORDER BY gtype NULLS LAST""".stripMargin)),

    // S4: shapefile scan — a deterministic .shp/.dbf pair is generated
    // from nation (Point or Polygon record per row + ISO-8859-1 dBase
    // attributes), scanned back with the pure-Scala ESRI reader, and
    // the oracle replicates the expected WKT + attribute strings. The
    // 25-row collect() is driver-side FIXTURE GENERATION (a binary
    // format Spark writers can't emit), not part of the scan operator.
    QuerySpec("q66_shapefile_scan",
      (s, dir) => {
        import graft.geo.GeoWkt
        import graft.sources.{ShapefileFixture, ShapefileSource}
        val base = s"/tmp/graft_shp_scan_${math.abs(dir.hashCode)}/nations"
        val rows = table(s, dir, "nation")
          .select(col("n_nationkey").cast("int"), col("n_name"),
            col("n_regionkey").cast("int"))
          .orderBy(col("n_nationkey"))
          .collect()
        val recs = rows.toSeq.map { r =>
          val k = r.getInt(0); val name = r.getString(1); val reg = r.getInt(2)
          val geom: GeoWkt.Geom =
            if (k % 3 == 0) GeoWkt.Point(GeoWkt.Pt(k.toDouble, reg.toDouble))
            else {
              val sd = (k + 1).toDouble
              // CW ring (shoelace > 0) = outer per the ESRI spec
              GeoWkt.Polygon(Seq(Seq(GeoWkt.Pt(0, 0), GeoWkt.Pt(0, sd),
                GeoWkt.Pt(sd, sd), GeoWkt.Pt(sd, 0), GeoWkt.Pt(0, 0))))
            }
          (geom, Seq(name, reg.toString))
        }
        ShapefileFixture.write(base, recs,
          Seq(("NAAM", 'C', 25), ("REGKEY", 'N', 4)))
        ShapefileSource.read(s, s"$base.shp")
          .select(col("record_number"), col("geometry"),
            col("naam"), col("regkey"))
          .orderBy(col("record_number"))
      },
      Some("""SELECT CAST(row_number() OVER (ORDER BY n_nationkey) AS INTEGER) AS record_number,
        |  CASE WHEN n_nationkey % 3 = 0
        |    THEN 'POINT (' || n_nationkey || ' ' || n_regionkey || ')'
        |    ELSE 'POLYGON ((0 0, 0 ' || (n_nationkey + 1) || ', ' ||
        |      (n_nationkey + 1) || ' ' || (n_nationkey + 1) || ', ' ||
        |      (n_nationkey + 1) || ' 0, 0 0))' END AS geometry,
        |  n_name AS naam, CAST(n_regionkey AS VARCHAR) AS regkey
        |FROM nation ORDER BY record_number""".stripMargin)),

    // S10 (extension): JSONL scan with malformed-row capture — the
    // training-corpus interchange format under the S1/S2 contract. A
    // deterministic .jsonl fixture derives from nation (every 5th row
    // a truncated-JSON line); the gate returns readAll's full view
    // (typed rows + in-band dead letters) and the oracle re-derives
    // both lanes from nation arithmetic — no JSON parsing in DuckDB.
    QuerySpec("q126_jsonl_scan",
      (s, dir) => {
        import graft.sources.JsonlSource
        val base = s"/tmp/graft_jsonl_scan_${math.abs(dir.hashCode)}"
        val rows = table(s, dir, "nation")
          .select(col("n_nationkey").cast("int"), col("n_name"),
            col("n_regionkey").cast("int"))
          .orderBy(col("n_nationkey"))
          .collect()
        val lines = rows.toSeq.map { r =>
          val k = r.getInt(0); val name = r.getString(1); val reg = r.getInt(2)
          if (k % 5 == 2) s"""{"id": $k, "name": "$name", "region":"""
          else s"""{"id": $k, "name": "$name", "region": $reg}"""
        }
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$base/nations.jsonl"),
          lines.mkString("\n").getBytes("UTF-8"))
        JsonlSource.readAll(s, s"$base/nations.jsonl",
            org.apache.spark.sql.types.StructType.fromDDL(
              "id BIGINT, name STRING, region BIGINT"))
          .withColumnRenamed("_graft_bad_record", "bad_record")
          .orderBy(col("id").asc_nulls_last, col("bad_record"))
      },
      Some("""SELECT
        |  CASE WHEN n_nationkey % 5 = 2 THEN NULL
        |       ELSE CAST(n_nationkey AS BIGINT) END AS id,
        |  CASE WHEN n_nationkey % 5 = 2 THEN NULL ELSE n_name END AS name,
        |  CASE WHEN n_nationkey % 5 = 2 THEN NULL
        |       ELSE CAST(n_regionkey AS BIGINT) END AS region,
        |  CASE WHEN n_nationkey % 5 = 2
        |       THEN '{"id": ' || n_nationkey || ', "name": "' || n_name
        |            || '", "region":'
        |       ELSE NULL END AS bad_record
        |FROM nation
        |ORDER BY id ASC NULLS LAST, bad_record""".stripMargin)),

    // F10: WKT parse / type / npoints / validity / promote, against an
    // oracle that replicates the semantics case-wise.
    QuerySpec("q35_wkt_geometry",
      (s, dir) => {
        val sz = col("p_size").cast("string")
        val wkt = when(col("p_partkey") % 3 === 0,
            concat(lit("POINT ("), sz, lit(" "), sz, lit(")")))
          .when(col("p_partkey") % 3 === 1,
            concat(lit("POLYGON ((0 0, "), sz, lit(" 0, "), sz, lit(" "), sz,
              lit(", 0 0))")))
          .otherwise(lit("NOTWKT"))
        table(s, dir, "part")
          .withColumn("wkt", wkt)
          .select(col("p_partkey"),
            geofunctions.st_geometrytype(col("wkt")).as("gtype"),
            geofunctions.st_npoints(col("wkt")).as("npoints"),
            geofunctions.st_isvalid(col("wkt")).as("valid"),
            geofunctions.st_castto(col("wkt"), "MULTIPOLYGON").as("mpoly"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey,
        |  CASE WHEN p_partkey % 3 = 0 THEN 'POINT'
        |       WHEN p_partkey % 3 = 1 THEN 'POLYGON' END AS gtype,
        |  CASE WHEN p_partkey % 3 = 0 THEN 1
        |       WHEN p_partkey % 3 = 1 THEN 4 END AS npoints,
        |  CASE WHEN p_partkey % 3 = 0 THEN TRUE
        |       WHEN p_partkey % 3 = 1 THEN TRUE END AS valid,
        |  CASE WHEN p_partkey % 3 = 1 THEN
        |    'MULTIPOLYGON (((0 0, ' || p_size || ' 0, ' || p_size || ' '
        |      || p_size || ', 0 0)))' END AS mpoly
        |FROM part ORDER BY p_partkey""".stripMargin))
  )
}
