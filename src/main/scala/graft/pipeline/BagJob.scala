package graft.pipeline

import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Failure

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.model.BagTables

/** The whole reference pipeline (`python manage.py run_import bagh`,
  * SURVEY.md §3.1) as one runnable job over the [[BagTables]] registry:
  * the gemeente seed and each CSV task run as the DAG of their FK
  * dependencies — every table goes through the generic load → clean →
  * validate → merge lifecycle once its FK parents are final, and commits
  * an atomic parquet snapshot.
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

  /** Run the job. Each table is one node of the FK DAG, run on a pool of
    * `defaultParallelism` threads that lives for this call: it reads its
    * own committed snapshot (or an empty one), waits for its FK parents'
    * final frames, then imports and commits, so tables without an FK path
    * between them import concurrently. Returns per-table outcomes in
    * [[BagTables.loadOrder]] order, after the gemeente seed. A table with
    * validation errors aborts before its write (reference fail-fast), but
    * the other tables still run — its children then FK-reject against the
    * stale/absent parent, which is the honest cascade. A table that
    * throws stops its FK descendants from importing; once every started
    * table has finished, the first such error in load order is rethrown.
    * A `startAt` that names no table of [[BagTables.loadOrder]] throws
    * before anything is written. */
  def run(spark: SparkSession, dataDir: String, outDir: String,
      startAt: Option[String] = None): Seq[TableOutcome] = {
    startAt.foreach { s =>
      require(BagTables.loadOrder.exists(_.name == s),
        s"startAt '$s' names no table; one of: " +
          BagTables.loadOrder.map(_.name).mkString(", "))
    }
    val importing = startAt.fold(BagTables.loadOrder)(s =>
      BagTables.loadOrder.dropWhile(_.name != s)).map(_.name).toSet
    def dir(name: String) = s"$outDir/$name"
    // the committed snapshot of `name`, once an interrupted commit of it
    // is healed, read with its table's cleaned schema, so no job infers one
    def snapshot(name: String, schema: StructType): Option[DataFrame] =
      Some(dir(name)).filter(DirCommit.current).map(spark.read.schema(schema).parquet(_))

    val threads = spark.sparkContext.defaultParallelism
    val pool = new ThreadPoolExecutor(threads, threads, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
        val t = new Thread(r, ThreadName)
        t.setDaemon(true)
        t
      })
    // every thread starts here, on the calling thread, so each inherits
    // its Spark local properties (job labels, scheduler pool)
    pool.prestartAllCoreThreads()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // each table's final frame: its new commit, or its preloaded frame
      val finals = scala.collection.mutable.Map[String, Future[DataFrame]]()
      finals("gemeente") = Future {
        val gemeente = BagTables.gemeenteSeed(spark)
        ImportPipeline.commitSnapshot(gemeente, dir("gemeente"))
        snapshot("gemeente", gemeente.schema).get
      }
      val nodes = BagTables.loadOrder.map { spec =>
        // the last committed snapshot — or, when none exists, an empty
        // spec-schema frame — so a mid-DAG `startAt` restart (reference
        // batch/batch.py:19-30) and the absent/failed-parent cascade
        // resolve FK checks against committed state
        val preloaded = Future {
          val empty = ImportPipeline.emptySnapshot(spark, spec)
          (snapshot(spec.name, empty.schema), empty)
        }
        val parents = Future.traverse(spec.fks.map(_.parentTable).distinct)(p =>
          finals(p).map(p -> _))
        val node = preloaded.zip(parents).map { case ((live, empty), ps) =>
          val kept = live.getOrElse(empty)
          val f = csvFile(dataDir, spec.name)
          if (!importing(spec.name)) (None, kept)
          else if (!f.exists()) (Some(TableOutcome(spec.name, 0, 0, Nil, skipped = true)), kept)
          else {
            val result = ImportPipeline.importTable(spark, spec, f.getPath, ps.toMap, live)
            try {
              if (result.report.failed) (Some(TableOutcome(spec.name, 0, result.rejectedRows,
                result.report.errors, skipped = false, result.rejectedBy)), kept)
              else {
                ImportPipeline.commitSnapshot(result.merged, dir(spec.name))
                (Some(TableOutcome(spec.name, result.loaded, result.rejectedRows,
                  Nil, skipped = false, result.rejectedBy)), snapshot(spec.name, empty.schema).get)
              }
            } finally result.release()
          }
        }
        finals(spec.name) = node.map(_._2)
        node.map(_._1)
      }
      val done = (finals("gemeente").map(_ => None) +: nodes)
        .map(Await.ready(_, Duration.Inf).value.get)
      done.collectFirst { case Failure(e) => throw e }
      TableOutcome("gemeente", 1, 0, Nil, skipped = false) +: done.flatMap(_.get)
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** The name of the threads [[run]] imports on. */
  val ThreadName = "bag-job"
}
