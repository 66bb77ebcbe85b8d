package graft

import org.apache.spark.sql.functions._

/** Targeted sweep for the exact-Kendall scale CONTRACT (VERDICT r14
  * #4): `kendallTauExact`'s total work is O(n²/B + n·B), so its
  * 100 TB configuration is B ∝ n for a FIXED cell width c = n/B —
  * cells stay c-sized (per-cell work flat), cell count and lane count
  * grow linearly, total cost grows ∝ n. A fixed-B sweep measures the
  * deliberate n²/B quadratic instead. This main measures BOTH arms
  * against the same synthesized corpus so SCALE.md can carry numbers
  * rather than a promise:
  *
  *   arm A: 1×  data, B = 32   (the q246 gate shape; c₁ = n₁/32)
  *   arm B: f×  data, B = 32·f (B ∝ n — same cell width c₁)
  *   arm C: f×  data, B = 32   (fixed B — cells f× wider, work ∝ n²)
  *
  * Expected: B costs ≈ f× arm A (honest linear), C costs ≈ f²× (the
  * quadratic the contract avoids). Synthesis mirrors ScaleStress's
  * graph-shaped orders copies: o_orderkey offset keeps composite
  * ranks unique across copies, o_orderpriority is untouched so the 5
  * groups absorb f× members — the mega-key shape q246's scale story
  * assumes. Default factor 4 keeps arm C measurable (~16× a ~7 s
  * point); at factor 10 arm C alone would be a ~100× pathology run,
  * demonstrating nothing the 16×-vs-4× contrast doesn't. */
object KendallScale {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 4
    val synth = if (args.length > 2) args(2) else "/tmp/graft_kendall_scale"
    val spark = Sessions.local(conf = Seq("spark.sql.shuffle.partitions" -> "32"))
    val meter = RunMeter.attach(spark)

    val orders = spark.read.parquet(s"$base/orders.parquet")
    (0 until factor).map(i => orders.withColumn("o_orderkey",
        col("o_orderkey") + lit(i.toLong * 12000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$synth/orders.parquet")

    def kendall(dir: String, buckets: Int) = {
      val o = spark.read.parquet(s"$dir/orders.parquet").select(
        col("o_orderpriority"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("x"),
        datediff(col("o_orderdate"), lit("1970-01-01"))
          .cast("long").as("y"))
      graft.ops.Profile.kendallTauExact(o, "o_orderpriority",
        "o_orderkey", "x", "y", buckets = buckets)
    }

    // arms: the gate shape, the (falsified — see SCALE.md round-15)
    // B∝n arm, and fixed-B
    val arms = Seq(
      ("1x_B32_gate", base, 32),
      (s"${factor}x_B${32 * factor}_contract", synth, 32 * factor),
      (s"${factor}x_B32_fixed_quadratic", synth, 32))
    // warm pass (JVM/codegen startup bills to no arm)
    kendall(base, 32).queryExecution.toRdd.count()
    val reps = RunMeter.Reps
    for ((label, dir, b) <- arms) {
      val (sec, n, m) = meter.medianOf(reps)(() => kendall(dir, b))
      println(String.format(java.util.Locale.ROOT,
        """{"arm":"%s","buckets":%d,"rows":%d,"sec":%.3f,"shuffle_mb":%.1f,"max_task_peak_mb":%.1f,"reps":%d}""",
        label, Int.box(b), Long.box(n),
        Double.box(sec), Double.box(m.shuffleBytes / 1e6 / reps),
        Double.box(m.maxTaskPeak / 1e6), Int.box(reps)))
    }
    spark.stop()
  }
}
