package graft

/** Per-job wall-clock profile for the named queries (r19 optimization
  * round): runs each query twice warm (FixtureCache builds would
  * otherwise bill their jobs to the profiled run), then once profiled,
  * and prints a header line with the total Spark job count and the
  * build/analyze/optimize/plan phase split, then each job's duration +
  * description — the breakdown needed when deciding WHICH fixed cost
  * to attack in an iteration-heavy gate. The job count is the A/B
  * number for shared-GK-bounds work: the `approxQuantile` boundary pass
  * is one job per call, so a chain that shares
  * `EventAnalytics.sliceBoundsFor` bounds across its stages drops
  * exactly the saved passes from it.
  *
  * Usage: JobProfile [sfDir] [namePrefix...] */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = Sessions.local()
    val meter = RunMeter.attach(spark)
    SparkEntry.specs.filter(sp => names.exists(sp.name.startsWith))
      .foreach { sp =>
        sp.fn(spark, sfDir).queryExecution.toRdd.count() // warm
        sp.fn(spark, sfDir).queryExecution.toRdd.count() // warm 2
        meter.reset()
        val t0 = System.nanoTime()
        sp.fn(spark, sfDir).queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val m = meter.read()
        // phase split: DF build, analysis, optimization, physical
        // planning (each forces only its own phase — lazy vals)
        val tb = System.nanoTime()
        val df2 = sp.fn(spark, sfDir)
        val t1 = System.nanoTime()
        df2.queryExecution.assertAnalyzed()
        val t2 = System.nanoTime()
        df2.queryExecution.optimizedPlan
        val t3 = System.nanoTime()
        df2.queryExecution.executedPlan
        val t4 = System.nanoTime()
        println(f"==== ${sp.name} wall $wall%.3fs  jobs ${m.jobs}  " +
          f"build ${(t1 - tb) / 1e9}%.3f analyze ${(t2 - t1) / 1e9}%.3f " +
          f"optimize ${(t3 - t2) / 1e9}%.3f plan ${(t4 - t3) / 1e9}%.3f ====")
        m.jobTimes.foreach(j =>
          println(f"job ${j.id}%3d ${j.seconds}%7.3fs  ${j.description}"))
      }
    spark.stop()
  }
}
