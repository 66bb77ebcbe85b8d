package graft

/** Plan-inspection main: prints explain(formatted) for the queries
  * named in args (or a default representative set) so shuffle count,
  * pushdown, and broadcast decisions can be reviewed per round. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local()
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q01_pricing_summary", "q04_semijoin_fk", "q07_merge_scd2",
        "q26_ngram_jaccard", "q30_ann_bruteforce")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
