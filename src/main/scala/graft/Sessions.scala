package graft

import org.apache.spark.sql.SparkSession

/** The one way the program builds a session and registers its plan
  * rules. Every main and the test suite plan with the settings and the
  * rules the bench runs, so a plan or a count measured by one entry
  * point holds for the others. */
object Sessions {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every processor of the host. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session on `local[cores]` (or the deployment address
    * `SPARK_GRAFT_MASTER`) with `cores` shuffle partitions, UTC, no UI
    * and a listener bus large enough that no metering event is dropped,
    * with the program's plan rules installed: [[plans.OrderedDumpSortRule]],
    * then [[plans.SummaryRewriteRule]] (inert until a summary is
    * registered). `conf` adds settings or overrides these. */
  def local(cores: Int = Sessions.cores,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a dropped stage event silently zeroes a query's byte reading
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "160000")
    val spark = conf.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rules = Seq(plans.OrderedDumpSortRule, plans.SummaryRewriteRule)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(rules.contains) ++ rules
    spark
  }
}
