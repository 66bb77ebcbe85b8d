package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.plans.OrderedDumpSortRule

/** The dump-sort rewrite every session plans with: the shapes it
  * rewrites, the shapes it leaves alone, and that it changes neither
  * the rows nor their order. */
class OrderedDumpSortRuleSpec extends SparkSuite {
  import spark.implicits._

  private def rewritten(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case Sort(_, false, Repartition(1, true, _), _) => true
    }.nonEmpty

  private def globalSorts(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case s @ Sort(_, true, _, _) => s }.size

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("fires on a narrow scan -> project -> sort") {
    val df = docs.select($"doc_id", length($"text").as("n")).orderBy($"doc_id")
    assert(rewritten(df) && globalSorts(df) == 0, df.queryExecution.optimizedPlan)
  }

  test("leaves Limit(Sort) to plan as TakeOrderedAndProject") {
    val df = docs.select($"doc_id", $"lang").orderBy($"doc_id").limit(5)
    assert(!rewritten(df) && globalSorts(df) == 1, df.queryExecution.optimizedPlan)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("leaves a sort above an aggregate or a join untouched") {
    val agg = docs.groupBy($"lang").count().orderBy($"lang")
    val join = spark.read.parquet(s"$sf0001/orders.parquet")
      .join(spark.read.parquet(s"$sf0001/lineitem.parquet"), $"o_orderkey" === $"l_orderkey")
      .select($"o_orderkey", $"l_linenumber").orderBy($"o_orderkey", $"l_linenumber")
    for (df <- Seq(agg, join))
      assert(!rewritten(df) && globalSorts(df) == 1, df.queryExecution.optimizedPlan)
  }

  test("refuses a non-constant Generate over a leaf without statistics") {
    // an RDD-backed relation estimates defaultSizeInBytes: no bound
    val leaf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a b"), Row("c d e")), 2),
      StructType(Seq(StructField("s", StringType))))
    val unbounded = leaf.select(explode(split($"s", " ")).as("w")).orderBy($"w")
    assert(!rewritten(unbounded) && globalSorts(unbounded) == 1,
      unbounded.queryExecution.optimizedPlan)
    // the same leaf under a constant fan-out is row-bounded ...
    val constant = leaf.select($"s", explode(array(lit(1), lit(2))).as("k"))
      .orderBy($"s", $"k")
    assert(rewritten(constant), constant.queryExecution.optimizedPlan)
    // ... and the same generator over a leaf with statistics is in bound
    val stated = docs.select(explode(split($"text", " ")).as("w")).orderBy($"w")
    assert(rewritten(stated), stated.queryExecution.optimizedPlan)
    assert(unbounded.collect().map(_.getString(0)).toSeq == Seq("a", "b", "c", "d", "e"))
  }

  test("q107 and q113 give the same rows in the same order without the rule") {
    for (q <- Seq("q107_c4_line_filter", "q113_quality_classifier")) {
      val withRule = SparkEntry.queries(q)(spark, sf0001)
      assert(rewritten(withRule), s"$q: the rule did not fire")
      val rows = withRule.collect().toSeq
      assert(rows.nonEmpty, q)
      val installed = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = installed.filterNot(_ == OrderedDumpSortRule)
      try {
        val plain = SparkEntry.queries(q)(spark, sf0001)
        assert(!rewritten(plain) && globalSorts(plain) == 1, q)
        assert(plain.collect().toSeq == rows, q)
      } finally spark.experimental.extraOptimizations = installed
    }
  }
}
