package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.model.BagTables

/** The whole reference pipeline (`python manage.py run_import bagh`,
  * SURVEY.md §3.1) as one runnable job over the [[BagTables]] registry:
  * seed gemeente, then each CSV task in FK-topological order — every
  * table goes through the generic load → clean → validate → merge
  * lifecycle with the parents loaded so far, and commits an atomic
  * parquet snapshot per table.
  *
  * Each table is imported in one cached, tagged pass
  * ([[ImportPipeline.importTable]]): its `loaded` and `rejected` counts
  * come from that pass and its merge join, not from recounting the
  * commit, and its cached blocks are released once it commits or
  * aborts. Snapshots are read with the schema the job already knows, so
  * no read runs a schema-inference job.
  *
  * File layout mirrors the reference's DATA_DIR after objectstore
  * download (bagh/batch.py:54-55): `{GBD|BAG}_{name}_ActueelEnHistorie
  * .csv` directly under `dataDir`. Tables whose extract is absent are
  * skipped (supports partial runs; the reference's named-task restart
  * is the `startAt` parameter, batch/batch.py:19-30 semantics).
  */
object BagJob {

  /** `rejectedBy` splits `rejected` by reason. */
  case class TableOutcome(name: String, loaded: Long, rejected: Long,
      errors: Seq[String], skipped: Boolean,
      rejectedBy: Map[String, Long] = Map.empty)

  private def csvFile(dataDir: String, name: String): java.io.File = {
    val gobId = if (BagTables.gobPath(name) == "gebieden") "GBD" else "BAG"
    new java.io.File(s"$dataDir/${gobId}_${name}_ActueelEnHistorie.csv")
  }

  /** Run the job. Returns per-table outcomes in execution order; a
    * table with validation errors aborts before its write (reference
    * fail-fast), but later independent tables still run — its children
    * will then FK-reject against the stale/absent parent, which is the
    * honest cascade. A `startAt` that names no table of
    * [[BagTables.loadOrder]] throws before anything is written. */
  def run(spark: SparkSession, dataDir: String, outDir: String,
      startAt: Option[String] = None): Seq[TableOutcome] = {
    startAt.foreach { s =>
      require(BagTables.loadOrder.exists(_.name == s),
        s"startAt '$s' names no table; one of: " +
          BagTables.loadOrder.map(_.name).mkString(", "))
    }
    val parents = scala.collection.mutable.Map[String, DataFrame]()
    def dir(name: String) = s"$outDir/$name"
    // the committed snapshot of `name`, once an interrupted commit of it
    // is healed, read with its table's cleaned schema, so no job infers one
    def snapshot(name: String, schema: StructType): Option[DataFrame] =
      Some(dir(name)).filter(DirCommit.current).map(spark.read.schema(schema).parquet(_))

    val gemeente = BagTables.gemeenteSeed(spark)
    ImportPipeline.commitSnapshot(gemeente, dir("gemeente"))
    parents("gemeente") = snapshot("gemeente", gemeente.schema).get

    // Preload every table's last committed snapshot — or, when none
    // exists, an empty spec-schema frame — so a mid-DAG `startAt`
    // restart (reference batch/batch.py:19-30) and the absent/failed-
    // parent cascade resolve FK checks against committed state instead
    // of throwing on the `parents` lookup. loadOrder is FK-topological,
    // so each emptySnapshot sees its own parents already present.
    val live = BagTables.loadOrder.flatMap { spec =>
      val empty = ImportPipeline.emptySnapshot(spark, spec, parents.toMap)
      val committed = snapshot(spec.name, empty.schema)
      parents(spec.name) = committed.getOrElse(empty)
      committed.map(spec.name -> _)
    }.toMap

    val specs = startAt match {
      case Some(s) => BagTables.loadOrder.dropWhile(_.name != s)
      case None => BagTables.loadOrder
    }
    val outcomes = specs.map { spec =>
      val f = csvFile(dataDir, spec.name)
      if (!f.exists()) {
        TableOutcome(spec.name, 0, 0, Nil, skipped = true)
      } else {
        val result = ImportPipeline.importTable(spark, spec, f.getPath,
          parents.toMap, live.get(spec.name))
        try {
          if (result.report.failed) {
            TableOutcome(spec.name, 0, result.rejectedRows,
              result.report.errors, skipped = false, result.rejectedBy)
          } else {
            ImportPipeline.commitSnapshot(result.merged, dir(spec.name))
            parents(spec.name) = snapshot(spec.name, parents(spec.name).schema).get
            TableOutcome(spec.name, result.loaded, result.rejectedRows,
              Nil, skipped = false, result.rejectedBy)
          }
        } finally result.release()
      }
    }
    TableOutcome("gemeente", 1, 0, Nil, skipped = false) +: outcomes
  }
}
