package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `factor`x corpus behind SCALE.md's 10x figures: `factor` copies
  * of a base scale dir, written to `out/{documents,embeddings,
  * lineitem}.parquet` and `out/graph/{lineitem,orders,supplier,
  * part}.parquet`, so a pipeline's growth is measured at an
  * order-of-magnitude data point instead of argued from plan shape.
  *
  * Documents are replicated with a PER-COPY TOKEN PREFIX (`c<i>_` on
  * every token), not verbatim: verbatim copies would make every doc a
  * (factor-1)-way near-duplicate of its clones, growing candidate
  * pairs quadratically in `factor`, a different (and unrealistically
  * adversarial) workload. The prefix keeps each copy's internal
  * shingle structure bit-identical while making vocab disjoint across
  * copies (the `_` separator keeps the tag prefix-free: `c1` can never
  * collide with a `c10` prefix at factor >= 10), so near-dup density,
  * pairs per document, matches the base corpus exactly and the honest
  * expectation for every pipeline is linear growth. Ids are offset by
  * i*[[Offset]] per copy (disjoint by construction: base ids are < 10M).
  *
  * `lineitem` feeds the sketch gates: id-offset copies multiply the
  * distinct-orderkey population (HLL) and every frequency (CMS, hist)
  * by `factor`, while the sketches' shuffle must not grow at all.
  *
  * The GRAPH-shaped copies (`out/graph`) serve the graph, profile and
  * entity-resolution gates, which need the NODE space to grow: with only
  * `l_orderkey` offset, the (l_suppkey -> o_custkey) edge set would
  * dedupe back to the base graph and measure nothing. Offsetting every
  * key column makes each copy a disjoint replica of the base graph
  * (nodes xf, edges xf, per-copy structure bit-identical). Their offset
  * is [[GraphOffset]], 12M rather than 10M (both keep copies id-disjoint):
  * per-copy gate structure is derived from ids through pmod masks (q182
  * mutates the `p_partkey` = 0 (mod 3) third into probes, q151 seeds
  * `s_suppkey` = 0 (mod 10)), and an offset not = 0 modulo the mask
  * rotates the mask per copy, so copies would not be bit-identical
  * replicas (each copy would mutate a different third and yield a
  * slightly different pair count). 12M = 0 (mod 3) and (mod 10) pins
  * both masks copy-invariant.
  *
  * Part names (the ER input) get a letter permutation per copy, not a
  * token prefix: a prefix changes name LENGTHS (so the gate's length-8
  * admission would differ per copy from the base) and shifts which
  * character the probe mutation hits. See [[letterPerm]]. */
object ScaleCorpus {

  /** Per-copy id offset of the documents, embeddings and lineitem copies. */
  val Offset = 10000000L

  /** Per-copy key offset of the graph-shaped copies: = 0 (mod 3) and (mod 10). */
  val GraphOffset = 12000000L

  /** Writes `factor` copies of the tables under `base` to `out`. */
  def write(spark: SparkSession, base: String, factor: Int, out: String): Unit = {
    def copies(tbl: String, keys: Seq[String], offset: Long,
        post: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val df = spark.read.parquet(s"$base/$tbl.parquet")
      (0 until factor).map { i =>
        post(keys.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i.toLong * offset))), i)
      }.reduce(_ unionByName _)
    }
    def save(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$path.parquet")
    save(copies("documents", Seq("doc_id"), Offset, (d, i) =>
      d.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1"))),
      "documents")
    save(copies("embeddings", Seq("vec_id"), Offset), "embeddings")
    save(copies("lineitem", Seq("l_orderkey"), Offset), "lineitem")
    save(copies("lineitem", Seq("l_orderkey", "l_suppkey", "l_partkey"), GraphOffset),
      "graph/lineitem")
    save(copies("orders", Seq("o_orderkey", "o_custkey"), GraphOffset), "graph/orders")
    save(copies("supplier", Seq("s_suppkey"), GraphOffset), "graph/supplier")
    save(copies("part", Seq("p_partkey"), GraphOffset, (d, i) =>
      if (i == 0) d else d.withColumn("p_name", translate(col("p_name"), Letters, letterPerm(i)))),
      "graph/part")
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** Copy `i`'s image of [[Letters]]: a length-preserving letter
    * permutation (copy 0 = the identity), shift s = i mod 26, plus an
    * alphabet reversal every 26 copies so all i < 52 get distinct
    * permutations. It preserves string length, token structure and
    * every within-copy edit distance EXACTLY (a character bijection), so
    * per-copy gate structure is bit-identical to the base corpus; two
    * copies' versions of the same name differ at every letter (a Caesar
    * shift has no fixed points for s != 0), so cross-copy pairs are
    * impossible at any small edit threshold. */
  private def letterPerm(i: Int): String = {
    val s = i % 26
    val rev = (i / 26) % 2 == 1
    Letters.map { ch =>
      val x = ch - 'a'
      val y = if (rev) 25 - x else x
      ('a' + (y + s) % 26).toChar
    }
  }
}
