package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The invariants SCALE.md's scale figures rest on, checked on a 3x
  * corpus synthesized from sf0.001 by [[ScaleCorpus.write]]. */
class ScaleCorpusSpec extends SparkSuite {
  import ScaleCorpus.{GraphOffset, Offset}

  private val factor = 3

  private lazy val out = {
    val dir = java.nio.file.Files.createTempDirectory("graft-scale-corpus").toString
    ScaleCorpus.write(spark, sf0001, factor, dir)
    dir
  }

  /** (output table, base table, offset, offset key columns; the first
    * names the copy a row belongs to). */
  private val tables = Seq(
    ("documents", "documents", Offset, Seq("doc_id")),
    ("embeddings", "embeddings", Offset, Seq("vec_id")),
    ("lineitem", "lineitem", Offset, Seq("l_orderkey")),
    ("graph/lineitem", "lineitem", GraphOffset, Seq("l_orderkey", "l_suppkey", "l_partkey")),
    ("graph/orders", "orders", GraphOffset, Seq("o_orderkey", "o_custkey")),
    ("graph/supplier", "supplier", GraphOffset, Seq("s_suppkey")),
    ("graph/part", "part", GraphOffset, Seq("p_partkey")))

  private def base(t: String) = spark.read.parquet(s"$sf0001/$t.parquet")
  private def synth(t: String) = spark.read.parquet(s"$out/$t.parquet")
  private def copyOf(key: String, offset: Long) = floor(col(key) / offset).cast("int")
  private def copy(t: String, key: String, offset: Long, i: Int) =
    synth(t).filter(copyOf(key, offset) === i)
  private def sameRows(a: DataFrame, b: DataFrame) =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Copy `i`'s text with its `c<i>_` token tags removed. */
  private def untagged(i: Int) =
    regexp_replace(col("text"), s"(?<!\\S)c${i}_", "").as("text")

  test("ScaleCorpus: each table holds factor x the base rows, keys disjoint across copies") {
    for ((t, b, offset, keys) <- tables) {
      val n = base(b).count()
      assert(synth(t).count() == factor * n, t)
      for (k <- keys) {
        // every copy's keys fall in its own offset range, one base's worth
        val perCopy = synth(t).groupBy(copyOf(k, offset).as("copy"))
          .agg(count(lit(1)), countDistinct(col(k))).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
        val distinct = base(b).select(k).distinct().count()
        assert(perCopy == (0 until factor).map((_, n, distinct)), s"$t.$k")
      }
    }
  }

  test("ScaleCorpus: copy 0 equals the base row for row") {
    for ((t, b, offset, keys) <- tables) {
      val c0 = copy(t, keys.head, offset, 0)
      val plain = if (t == "documents") c0.withColumn("text", untagged(0)) else c0
      assert(sameRows(plain, base(b)), t)
    }
  }

  test("ScaleCorpus: copy i's tokens all start with c<i>_") {
    for (i <- 0 until factor) {
      val docs = copy("documents", "doc_id", Offset, i)
      val tokens = docs.select(explode(split(col("text"), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
      assert(tokens.count() > 0)
      assert(tokens.filter(!col("tok").startsWith(s"c${i}_")).isEmpty, s"copy $i")
      // and the tag is all that changed
      val plain = docs.select((col("doc_id") - i * Offset).as("doc_id"), untagged(i))
      assert(sameRows(plain, base("documents").select("doc_id", "text")), s"copy $i")
    }
  }

  test("ScaleCorpus: each graph copy keeps the base's key-mask histograms") {
    def histogram(df: DataFrame, key: String, mod: Int) =
      df.groupBy(pmod(col(key), lit(mod)).as("r")).count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    for ((t, b, key, mod) <- Seq(("graph/part", "part", "p_partkey", 3),
        ("graph/supplier", "supplier", "s_suppkey", 10))) {
      val expected = histogram(base(b), key, mod)
      for (i <- 0 until factor)
        assert(histogram(copy(t, key, GraphOffset, i), key, mod) == expected, s"$t copy $i")
    }
  }

  test("ScaleCorpus: p_name keeps its length, and copies 1 and 2 differ at every letter") {
    val names = base("part").select("p_partkey", "p_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for (i <- 1 until factor) {
      val pairs = copy("graph/part", "p_partkey", GraphOffset, i)
        .select("p_partkey", "p_name").collect()
        .map(r => names(r.getLong(0) - i * GraphOffset) -> r.getString(1)).toSeq
      assert(pairs.size == names.size)
      for ((was, now) <- pairs) {
        assert(now.length == was.length, s"copy $i: $was -> $now")
        was.zip(now).foreach { case (a, b) =>
          assert(if (a >= 'a' && a <= 'z') b != a else b == a, s"copy $i: $was -> $now")
        }
      }
      // one character bijection per copy: within-copy edit distances hold
      val charMap = pairs.flatMap { case (was, now) => was.zip(now) }.distinct
      assert(charMap.map(_._1).distinct.size == charMap.size, s"copy $i")
      assert(charMap.map(_._2).distinct.size == charMap.size, s"copy $i")
    }
  }
}
