package graft

import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}

/** Optimization-round audit main: reports, for every declared query,
  * whether [[graft.plans.OrderedDumpSortRule]] rewrote its trailing
  * global sort (optimizedPlan contains Sort(global=false) over
  * Repartition(1)) — the measured-class census behind the r19
  * ordered-dump rewrite. Plans are only optimized, never executed, so
  * the sweep is cheap; fixture-backed queries whose fixture roots are
  * absent fall out as `error` rows (plan construction needs the
  * fixture files — run after a Bench/Verify has prewarmed /tmp). */
object RuleAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val spark = Sessions.local()
    SparkEntry.specs.foreach { sp =>
      val status =
        try {
          val opt = sp.fn(spark, sfDir).queryExecution.optimizedPlan
          val fired = opt.collect {
            case Sort(_, false, Repartition(1, true, _), _) => true
          }.nonEmpty
          if (fired) "fired" else "not_fired"
        } catch { case e: Throwable =>
          s"error ${e.getClass.getSimpleName}"
        }
      println(s"${sp.name} $status")
    }
    spark.stop()
  }
}
