package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Command-line entry for the whole import job — the analogue of the
  * reference's `python manage.py run_import bagh [--bagh_start task]`
  * (batch/batch.py:9-30). Usage:
  *
  *   BagJobMain <dataDir> <outDir> [startAt]
  *
  * `dataDir` holds the GOB CSV extracts (`{GBD|BAG}_<table>_
  * ActueelEnHistorie.csv`), `outDir` receives one parquet snapshot dir
  * per table, `startAt` optionally resumes mid-DAG at a named table
  * with FK checks resolved against previously committed snapshots. */
object BagJobMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BagJobMain <dataDir> <outDir> [startAt]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .appName("graft-bag-import")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // compute the exit code inside try/finally, exit only after
    // spark.stop() — sys.exit inside the try would bypass the finally
    // (System.exit does not unwind the stack)
    var exitCode = 0
    try {
      val outcomes = BagJob.run(spark, args(0), args(1), args.lift(2))
      outcomes.foreach { o =>
        val status =
          if (o.skipped) "SKIPPED (no extract)"
          else if (o.errors.nonEmpty) s"ABORTED ${o.errors.mkString("; ")}"
          else f"loaded=${o.loaded}%d rejected=${o.rejected}%d" +
            o.rejectedBy.toSeq.sorted.map { case (r, n) => s" $r=$n" }.mkString
        println(f"${o.name}%-28s $status")
      }
      if (outcomes.exists(_.errors.nonEmpty)) exitCode = 1
    } finally spark.stop()
    if (exitCode != 0) sys.exit(exitCode)
  }
}
