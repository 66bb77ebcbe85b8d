package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per
  * suite, lazy), built like every main's. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4,
    conf = Seq("spark.sql.warehouse.dir" -> "/tmp/graft-warehouse"))

  def sf0001 = "/root/testdata/sf0.001"
}
