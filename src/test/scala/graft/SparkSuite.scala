package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per
  * suite, lazy), built like every main's. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4,
    conf = Seq("spark.sql.warehouse.dir" -> "/tmp/graft-warehouse"))

  def sf0001 = "/root/testdata/sf0.001"

  /** The setting the skew-safe ops read their slice count from. */
  val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Runs `body` with the given session settings, then puts each back
    * to its earlier value (or unsets it). */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `df` re-rooted on its RDD: the leaf has no size estimate, so
    * `EventAnalytics.sliceBoundsFor` runs its quantile pass, as it
    * does at data scale, instead of skipping it for a small frame. */
  def noStats(df: DataFrame): DataFrame =
    spark.createDataFrame(df.rdd, df.schema)
}
