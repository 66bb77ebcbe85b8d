package graft.model

import org.apache.spark.sql.Column

/** Schema-driven table registry (SURVEY.md §1.4) — the static analogue
  * of the reference's runtime `dataset.create_models()`
  * (/root/reference/src/dso_import/bagh/batch.py:451-454): one generic
  * import pipeline parameterized by spec, not per-table code, mirroring
  * `ImportBagHTask.__init__(**kwargs)` (bagh/batch.py:45-61).
  */

/** One foreign-key check: child column → parent table's key column.
  * Null FK values pass (reference: bagh/batch.py:231). */
case class FkSpec(childCol: String, parentTable: String, parentKeyCol: String = "id")

/** Geometry column declaration: target type drives the promote/reject
  * matrix of batch/geo.py:52-78. `srid` mirrors the PostGIS column type
  * `geometry(<target>,28992)` (bagh/bagh_create.sql:37): an EWKT input
  * declaring a DIFFERENT SRID is rejected (PostGIS would refuse the
  * insert), and the accepted column carries {srid, geom_type} as Spark
  * column Metadata — the schema-level rendering of that type. */
case class GeoSpec(col: String, targetType: String, srid: Int = 28992)

/** One temporally-versioned entity table.
  *
  * @param name         target table name (e.g. "bagh_wijk")
  * @param sourceCols   source-column → target-column renames, in output
  *                     order (P1 camelCase→snake_case projection)
  * @param extraCols    per-table computed projections (P5 extra_fields):
  *                     target column name → expression over the renamed frame
  * @param fks          FK existence checks (J1), parents loaded first
  * @param geometry     optional geometry column (P4)
  */
case class TableSpec(
    name: String,
    sourceCols: Seq[(String, String)],
    extraCols: Seq[(String, Column)] = Nil,
    fks: Seq[FkSpec] = Nil,
    geometry: Option[GeoSpec] = None) {
  def targetCols: Seq[String] = sourceCols.map(_._2) ++ extraCols.map(_._1)
}
