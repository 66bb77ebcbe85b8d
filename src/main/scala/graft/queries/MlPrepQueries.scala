package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{MlPrep, Relational}
import QuerySpec.table

/** Batch 9: ML-corpus preparation — TF-IDF, embedding centroids, int8
  * quantization, corpus n-gram frequencies, skew-safe join, and
  * deterministic sampling. Every query oracle-checked; float paths go
  * through exact integer/decimal domains (or floor arithmetic) so the
  * DuckDB comparison is bit-stable regardless of shuffle order. */
object MlPrepQueries {

  /** q72 codebook size / Lloyd iterations. Both the Spark query and
    * its generated oracle SQL read these, so they cannot drift. */
  private val kmeansK = 4
  private val kmeansIters = 2

  /** q76 literal query set — terms drawn from the synthetic corpus
    * vocabulary; shared by the Spark query and the generated oracle.
    * (Declared before `all`: a Scala object initializes vals in
    * declaration order, so a member referenced from `all` that is
    * declared after it would still be null/zero when `all` builds.) */
  private val bm25Queries: Seq[(Int, String)] = Seq(
    0 -> "join", 0 -> "vector",
    1 -> "customer", 1 -> "slow",
    2 -> "hash", 2 -> "merge", 2 -> "scan")

  /** The q89 incoming batch — planted exact dups (+2M), near-dups
    * (+1M), new docs (+3M), a within-batch exact copy of the new arm
    * (+4M) and a within-batch near-dup of it (+5M). Shared with q90
    * (the indexed twin must see the SAME inputs). The modulus
    * parameterizes batch SIZE (each arm selects one residue class):
    * 31 is the q89/q90/q103 gate batch (~16% of the corpus — r17
    * fixture diet, was 7 = ~5/7 of the corpus whose in-batch pair
    * stage dominated three gates' bench wall); 97 is q105's small
    * batch (~5% — the typical ingest increment), same five-arm
    * routing structure. */
  private[queries] def incrementFullBatch(
      corpus: org.apache.spark.sql.DataFrame,
      mod: Int = 31): org.apache.spark.sql.DataFrame = {
    val newText = regexp_replace(col("text"), "(\\S+)", "zq$1")
    corpus.filter(pmod(col("doc_id"), lit(mod)) === 3)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zzqx")).as("text"))
      .unionByName(corpus.filter(pmod(col("doc_id"), lit(mod)) === 5)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      .unionByName(corpus.filter(pmod(col("doc_id"), lit(mod)) === 1)
        .select((col("doc_id") + 3000000).as("doc_id"), newText.as("text")))
      .unionByName(corpus.filter(pmod(col("doc_id"), lit(mod)) === 1)
        .select((col("doc_id") + 4000000).as("doc_id"), newText.as("text")))
      .unionByName(corpus.filter(pmod(col("doc_id"), lit(mod)) === 1)
        .select((col("doc_id") + 5000000).as("doc_id"),
          concat(newText, lit(" vvqx")).as("text")))
  }

  /** The [[incrementFullBatch]] three-stage DuckDB replay (batch exact
    * dedup → batch near-dup components → corpus increment), generated
    * from the same modulus as the batch so the two can never drift —
    * ONE definition shared by q89 (mod 7, and q90/q103 reuse q89's
    * instance) and q105 (mod 97). */
  private[queries] def incrementFullOracleSql(mod: Int): String =
    s"""WITH inc0 AS (
       |  SELECT doc_id + 1000000 AS doc_id, text || ' zzqx' AS text
       |    FROM documents WHERE doc_id % $mod = 3
       |  UNION ALL
       |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % $mod = 5
       |  UNION ALL
       |  SELECT doc_id + 3000000, regexp_replace(text, '(\\S+)', 'zq\\1', 'g')
       |    FROM documents WHERE doc_id % $mod = 1
       |  UNION ALL
       |  SELECT doc_id + 4000000, regexp_replace(text, '(\\S+)', 'zq\\1', 'g')
       |    FROM documents WHERE doc_id % $mod = 1
       |  UNION ALL
       |  SELECT doc_id + 5000000, regexp_replace(text, '(\\S+)', 'zq\\1', 'g') || ' vvqx'
       |    FROM documents WHERE doc_id % $mod = 1),
       |be AS (SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM inc0)
       |  WHERE rn = 1),
       |bt AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM be),
       |bsh AS (SELECT DISTINCT doc_id,
       |    UNNEST([array_to_string(toks[i:i+2], ' ')
       |            FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
       |  FROM bt WHERE len(toks) >= 3),
       |bsz AS (SELECT doc_id, COUNT(*) AS n FROM bsh GROUP BY 1),
       |bp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM bsh a JOIN bsh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |bgood AS (SELECT id_a, id_b FROM bp
       |  JOIN bsz sa ON sa.doc_id = id_a JOIN bsz sb ON sb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
       |bedges AS (SELECT id_a AS a, id_b AS b FROM bgood
       |  UNION SELECT id_b, id_a FROM bgood),
       |bnodes AS (SELECT DISTINCT a AS id FROM bedges),
       |breach AS (
       |  WITH RECURSIVE r(src, node) AS (
       |    SELECT id, id FROM bnodes
       |    UNION
       |    SELECT r.src, e.b FROM r JOIN bedges e ON e.a = r.node)
       |  SELECT * FROM r),
       |bcomp AS (SELECT src AS id, MIN(node) AS component FROM breach GROUP BY src),
       |bn AS (SELECT doc_id, text FROM be
       |  WHERE doc_id NOT IN (SELECT id FROM bcomp WHERE id <> component)),
       |ex AS (SELECT * FROM bn WHERE text NOT IN (SELECT text FROM documents)),
       |it AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM ex),
       |ish AS (SELECT DISTINCT doc_id,
       |    UNNEST([array_to_string(toks[i:i+2], ' ')
       |            FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
       |  FROM it WHERE len(toks) >= 3),
       |ct AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |csh AS (SELECT DISTINCT doc_id,
       |    UNNEST([array_to_string(toks[i:i+2], ' ')
       |            FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
       |  FROM ct WHERE len(toks) >= 3),
       |isz AS (SELECT doc_id, COUNT(*) AS n FROM ish GROUP BY 1),
       |csz AS (SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY 1),
       |pairs AS (SELECT i.doc_id AS iid, c.doc_id AS cid, COUNT(*) AS inter
       |  FROM ish i JOIN csh c USING (shingle) GROUP BY 1, 2),
       |los AS (SELECT DISTINCT iid FROM pairs
       |  JOIN isz ON isz.doc_id = iid JOIN csz ON csz.doc_id = cid
       |  WHERE CAST(inter AS DOUBLE) / (isz.n + csz.n - inter) >= 0.5)
       |SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT iid FROM los)
       |ORDER BY doc_id""".stripMargin

  val all: Seq[QuerySpec] = Seq(

    // TF-IDF top-3 terms per document (smoothed idf, total-order rank).
    QuerySpec("q53_tfidf",
      (s, dir) => MlPrep.tfIdfTopTerms(table(s, dir, "documents"),
          "doc_id", "text", topN = 3)
        .orderBy(col("doc_id"), col("rank")),
      Some("""WITH tok AS (
        |  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    round(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tf, score FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // Per-label embedding centroid, long form; exact bigint micro-sums.
    QuerySpec("q54_label_centroid",
      (s, dir) => MlPrep.labelCentroids(table(s, dir, "embeddings"),
          "label", "embedding")
        .orderBy(col("label"), col("dim")),
      Some("""WITH e AS (
        |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(floor(CAST(UNNEST(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS x_micro
        |  FROM embeddings)
        |SELECT label, dim, COUNT(*) AS n,
        |  CAST(floor(CAST(SUM(x_micro) AS DOUBLE) / COUNT(*)) AS BIGINT) AS avg_micro
        |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin)),

    // Int8 min-max quantization of every embedding (floor arithmetic —
    // tie-free, engine-portable). Codes emitted CSV-joined: the driver
    // comparator can't sort array cells.
    QuerySpec("q55_quantize_int8",
      (s, dir) => MlPrep.quantizeInt8(table(s, dir, "embeddings"),
          "vec_id", "embedding")
        .select(col("vec_id"), col("q_min"), col("q_max"),
          array_join(col("codes").cast("array<string>"), ",").as("codes"))
        .orderBy(col("vec_id")),
      Some("""SELECT vec_id,
        |  round(list_min([CAST(x AS DOUBLE) FOR x IN embedding]), 6) AS q_min,
        |  round(list_max([CAST(x AS DOUBLE) FOR x IN embedding]), 6) AS q_max,
        |  array_to_string(
        |    CASE WHEN list_max([CAST(x AS DOUBLE) FOR x IN embedding])
        |              > list_min([CAST(x AS DOUBLE) FOR x IN embedding])
        |      THEN [CAST(least(127, floor(
        |             (CAST(x AS DOUBLE)
        |               - list_min([CAST(y AS DOUBLE) FOR y IN embedding])) * 254
        |             / (list_max([CAST(y AS DOUBLE) FOR y IN embedding])
        |               - list_min([CAST(y AS DOUBLE) FOR y IN embedding]))) - 127)
        |            AS INTEGER) FOR x IN embedding]
        |      ELSE [CAST(0 AS INTEGER) FOR x IN embedding]
        |    END, ',') AS codes
        |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // Corpus-wide top-20 word bigrams (multiset counts, lexical
    // tiebreak) — the n-gram frequency table every corpus audit needs.
    QuerySpec("q56_ngram_topk",
      (s, dir) => {
        val d = table(s, dir, "documents")
        val bigrams = graft.functions.sketches.shingles_all(col("text"), 2)
        d.select(explode(bigrams).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram").asc)
          .limit(20)
      },
      Some("""WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |b AS (SELECT UNNEST([array_to_string(toks[i:i+1], ' ')
        |        FOR i IN generate_series(1, len(toks) - 1)]) AS bigram
        |  FROM t WHERE len(toks) >= 2)
        |SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin)),

    // Skew-safe salted join == plain join (checked against the plain
    // SQL join): orders (probe, skewed by customer) x customer (build).
    QuerySpec("q57_skew_join",
      (s, dir) => Relational.skewSafeJoin(
          table(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey"),
          table(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
          keyCol = "c_custkey", saltSource = "o_orderkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c.c_mktsegment, COUNT(*) AS n_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Keyless point-in-interval range join via bin bucketing (the
    // O(n*m) BNL shape rewritten to an equi join) — matches per
    // interval counted against DuckDB's plain BETWEEN join.
    // The count aggregate is pushed BELOW the join: points collapse to
    // (day, count) first — bounded by distinct days, not corpus rows —
    // so the join touches ~2.4k rows instead of 600k and the matched
    // intermediate shrinks ~250x (measured 4.4M -> ~18k rows at sf0.1).
    // At 100 TB the day-count pre-aggregate is the only shape whose
    // join input does NOT grow with the corpus.
    QuerySpec("q59_range_join",
      (s, dir) => {
        val dayCounts = table(s, dir, "lineitem")
          .groupBy(col("l_shipdate"))
          .agg(count(lit(1)).as("__day_n"))
        val intervals = table(s, dir, "orders")
          .filter(col("o_orderkey") % 500 === 0)
          .select(col("o_orderkey").as("int_id"),
            col("o_orderdate").as("iv_begin"),
            (col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("iv_end"))
        graft.ops.Temporal.rangeJoinBinned(dayCounts, "l_shipdate",
            intervals, "iv_begin", "iv_end", binDays = 30)
          .groupBy(col("int_id"))
          .agg(sum(col("__day_n")).as("n_points"))
          .orderBy(col("int_id"))
      },
      Some("""SELECT o.o_orderkey AS int_id, COUNT(*) AS n_points
        |FROM lineitem l
        |JOIN (SELECT o_orderkey, o_orderdate AS b,
        |        o_orderdate + INTERVAL 60 DAY AS e
        |      FROM orders WHERE o_orderkey % 500 = 0) o
        |  ON l.l_shipdate BETWEEN o.b AND o.e
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Composite corpus-prep pipeline: quality gate -> exact dedup ->
    // stats -> deterministic split, hash-exact against DuckDB.
    QuerySpec("q60_corpus_prep",
      (s, dir) => MlPrep.corpusPrep(table(s, dir, "documents"),
          "doc_id", "text", holdoutDenom = 10)
        .orderBy(col("doc_id")),
      Some("""WITH q AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |f AS (SELECT doc_id, text, len(toks) AS n,
        |    CAST(list_sum([length(w) FOR w IN toks]) AS DOUBLE) / len(toks) AS avg
        |  FROM q),
        |g AS (SELECT * FROM f
        |  WHERE n BETWEEN 5 AND 10000 AND avg >= 2.0 AND avg <= 15.0),
        |d AS (SELECT *, min(doc_id) OVER (PARTITION BY text) AS canon FROM g)
        |SELECT doc_id, n AS n_tokens, length(text) AS n_chars,
        |  CASE WHEN doc_id % 10 = 0 THEN 'holdout' ELSE 'train' END AS split
        |FROM d WHERE doc_id = canon ORDER BY doc_id""".stripMargin)),

    // Frame-sampling batch shape (video -> frames row multiplication);
    // payload slicing is the stub, the explode-with-bounded-memory
    // plumbing is the operator. The stub's slice arithmetic
    // (n = min(4, max(1, L)), step = max(1, L/n), frame i = bytes
    // [i*step, min(L, (i+1)*step))) is plain integer math, so the
    // oracle replicates it per document over the UTF-8 byte length.
    QuerySpec("q61_media_frames",
      (s, dir) => {
        import graft.ops.Multimodal
        Multimodal.sampleFramesStub(s,
            Multimodal.asMedia(table(s, dir, "documents"), "doc_id", "text"),
            nFrames = 4)
          .toDF()
          .select(col("media_id"), col("frame_idx"), length(col("frame")).as("n"))
          .orderBy(col("media_id"), col("frame_idx"))
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
        |    octet_length(CAST(text AS BLOB)) AS L FROM documents),
        |p AS (SELECT media_id, L, LEAST(4, GREATEST(1, L)) AS nf FROM m),
        |q AS (SELECT media_id, L, nf, GREATEST(1, L // nf) AS step FROM p),
        |e AS (SELECT media_id,
        |    UNNEST([{'fi': i, 'n': LEAST(L, (i + 1) * step) - i * step}
        |            FOR i IN range(nf)]) AS fr
        |  FROM q)
        |SELECT media_id, CAST(fr.fi AS INTEGER) AS frame_idx,
        |  CAST(fr.n AS INTEGER) AS n
        |FROM e ORDER BY media_id, frame_idx""".stripMargin)),

    // Arbitrary GROUPING SETS (not just rollup/cube prefixes): the
    // (status,priority) + (status) + (priority) set list via spark.sql
    // — the S8 "SQL surface" path — with grouping_id disambiguation.
    QuerySpec("q62_grouping_sets",
      (s, dir) => {
        table(s, dir, "orders").createOrReplaceTempView("graft_orders_gs")
        s.sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
          |  CAST(grouping_id() AS INT) AS gid
          |FROM graft_orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |                        (o_orderstatus), (o_orderpriority))
          |ORDER BY gid, o_orderstatus ASC NULLS LAST,
          |         o_orderpriority ASC NULLS LAST""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), (o_orderpriority))
        |ORDER BY gid, o_orderstatus NULLS LAST,
        |         o_orderpriority NULLS LAST""".stripMargin)),

    // Hot-shingle-pruned Jaccard: shingles in > 20 docs are dropped
    // from candidate generation (bounded bucket blowup — the 100 TB
    // skew defense); intersections count surviving shingles only,
    // n_sh still counts all. Oracle mirrors the pruning exactly.
    QuerySpec("q63_jaccard_pruned",
      (s, dir) => graft.ops.Dedup.ngramJaccardPairsPruned(
          table(s, dir, "documents"), "doc_id", "text",
          k = 3, threshold = 0.5, maxDf = 20)
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    UNNEST([array_to_string(toks[i:i+2], ' ')
        |            FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
        |  FROM t WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |keep AS (SELECT shingle FROM sh GROUP BY shingle
        |  HAVING COUNT(*) > 1 AND COUNT(*) <= 20),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id AND shingle IN (SELECT shingle FROM keep)
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
        |FROM pairs
        |JOIN sz sa ON sa.doc_id = id_a
        |JOIN sz sb ON sb.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    // Near-dup groups: trigram-Jaccard pairs -> connected components
    // (iterative min-label propagation vs a recursive-CTE oracle).
    QuerySpec("q64_neardup_components",
      (s, dir) => graft.ops.Dedup.nearDupComponents(
          graft.ops.Dedup.ngramJaccardPairs(
            table(s, dir, "documents"), "doc_id", "text", k = 3, threshold = 0.5),
          "id_a", "id_b")
        .orderBy(col("id")),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    UNNEST([array_to_string(toks[i:i+2], ' ')
        |            FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
        |  FROM t WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |good AS (SELECT id_a, id_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM good
        |  UNION SELECT id_b, id_a FROM good),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  WITH RECURSIVE r(src, node) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT r.src, e.b FROM r JOIN edges e ON e.a = r.node)
        |  SELECT * FROM r)
        |SELECT src AS id, MIN(node) AS component
        |FROM reach GROUP BY src ORDER BY id""".stripMargin)),

    // Exact percentiles (sort-based, order-independent; Spark
    // percentile and DuckDB quantile_cont share the linear
    // interpolation definition). Complements q49's approx forms.
    QuerySpec("q65_percentile",
      (s, dir) => table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          // the IQR bounds as scalar columns (array cells are
          // unsortable in the driver's pandas comparator)
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.75)").as("p75"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Deterministic 5% mod-sample — reproducible split, exact oracle.
    QuerySpec("q58_mod_sample",
      (s, dir) => Relational.modSample(table(s, dir, "orders"),
          "o_orderkey", num = 1, denom = 20)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 20 < 1 ORDER BY o_orderkey""".stripMargin)),

    // Token-budget sequence packing: doc -> shard by cumulative token
    // count, computed as a two-pass distributed prefix sum (NOT a
    // single-partition global window). Oracle = the window form, which
    // IS fine in DuckDB at gate scale.
    QuerySpec("q67_pack_sequences",
      (s, dir) => graft.ops.TrainingPrep.packByTokenBudget(
          table(s, dir, "documents"), "doc_id", "text", budgetTokens = 512)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS n FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST((SUM(n) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)
        |       // 512 AS BIGINT) AS shard
        |FROM t ORDER BY doc_id""".stripMargin)),

    // Train/holdout contamination: holdout docs sharing any distinct
    // word 8-gram with any train doc (eval-leakage scan). Same
    // inverted-index shingle join as the dedup pipeline.
    QuerySpec("q68_contamination",
      (s, dir) => graft.ops.TrainingPrep.contamination(
          table(s, dir, "documents"), "doc_id", "text",
          k = 8, holdoutDenom = 10)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    UNNEST([array_to_string(toks[i:i+7], ' ')
        |            FOR i IN generate_series(1, len(toks) - 7)]) AS shingle
        |  FROM t WHERE len(toks) >= 8),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0),
        |hit AS (SELECT doc_id, COUNT(*) AS n_shared FROM sh
        |  WHERE doc_id % 10 = 0 AND shingle IN (SELECT shingle FROM tr)
        |  GROUP BY doc_id)
        |SELECT h.doc_id, sz.n_sh, h.n_shared,
        |  CAST(floor(CAST(h.n_shared AS DOUBLE) * 1000000 / sz.n_sh) AS BIGINT)
        |    AS ratio_micro
        |FROM hit h JOIN sz USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Lloyd's k-means (the IVF quantizer trainer) in exact integer
    // micros: quantized vectors, exact long distances, floor'd integer
    // centroid means, fixed iteration count, id-ordered seeds + cent_id
    // tiebreaks — bit-replicable, so the oracle just unrolls the
    // iterations in SQL. Output: long-form (cent_id, dim, c_micro).
    QuerySpec("q72_kmeans_micro",
      (s, dir) => graft.ops.Similarity.kmeansMicro(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          k = kmeansK, iters = kmeansIters)
        .orderBy(col("cent_id"), col("dim")),
      Some {
        def iter(i: Int, prev: String): String =
          s"""d$i AS (SELECT em.vec_id, c.cent_id,
             |    SUM((em.x - c.c) * (em.x - c.c)) AS d
             |  FROM em JOIN $prev c USING (dim) GROUP BY em.vec_id, c.cent_id),
             |a$i AS (SELECT vec_id, cent_id FROM (
             |    SELECT vec_id, cent_id,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
             |    FROM d$i) WHERE rn = 1),
             |u$i AS (SELECT a$i.cent_id, em.dim,
             |    CAST(floor(CAST(SUM(em.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
             |  FROM a$i JOIN em USING (vec_id) GROUP BY a$i.cent_id, em.dim),
             |c$i AS (SELECT p.cent_id, p.dim, COALESCE(u$i.c, p.c) AS c
             |  FROM $prev p LEFT JOIN u$i
             |    ON u$i.cent_id = p.cent_id AND u$i.dim = p.dim)""".stripMargin
        val chain = (1 to kmeansIters).map(i => iter(i, s"c${i - 1}"))
          .mkString(",\n")
        s"""WITH em AS (SELECT vec_id,
           |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
           |    CAST(floor(CAST(UNNEST(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS x
           |  FROM embeddings),
           |seed AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
           |      AS cent_id, vec_id
           |  FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT $kmeansK)),
           |c0 AS (SELECT s.cent_id, em.dim, em.x AS c
           |  FROM seed s JOIN em ON em.vec_id = s.vec_id),
           |$chain
           |SELECT cent_id, dim, c AS c_micro FROM c$kmeansIters
           |ORDER BY cent_id, dim""".stripMargin
      }),

    // Deterministic global training shuffle: reproducible (shard, pos)
    // per document from an md5 bucket + md5-order rank — rerun-stable,
    // salt-independent. md5 is bit-identical in DuckDB (q70/q71
    // precedent), so the whole shuffle is oracle-checked hash-exact.
    QuerySpec("q74_shuffle_shards",
      (s, dir) => graft.ops.TrainingPrep.shuffleShards(
          table(s, dir, "documents"), "doc_id", nShards = 8)
        .orderBy(col("doc_id")),
      Some("""WITH k AS (SELECT doc_id,
        |    md5('graft:' || CAST(doc_id AS VARCHAR)) AS key FROM documents),
        |s AS (SELECT doc_id, key,
        |    CAST(CAST(('0x' || substr(key, 1, 8)) AS BIGINT) % 8 AS INTEGER)
        |      AS shard
        |  FROM k)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
        |       AS INTEGER) AS pos
        |FROM s ORDER BY doc_id""".stripMargin)),

    // PII scrub: emails then long digit runs replaced per row; counts
    // + scrubbed length, patterns chosen to agree between Java regex
    // and RE2.
    QuerySpec("q69_pii_scrub",
      (s, dir) => {
        import graft.ops.TrainingPrep
        val cnts = TrainingPrep.piiCounts(col("text"))
        table(s, dir, "documents").select(
            Seq(col("doc_id")) ++
              cnts.map { case (n, c) => c.cast("long").as(n) } :+
              length(TrainingPrep.scrubPii(col("text"))).as("n_chars_scrubbed"): _*)
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '${graft.ops.TrainingPrep.emailPattern}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(text, '${graft.ops.TrainingPrep.emailPattern}', '[EMAIL]', 'g'),
        |    '${graft.ops.TrainingPrep.digitRunPattern}')) AS BIGINT) AS n_digit_runs,
        |  length(regexp_replace(
        |    regexp_replace(text, '${graft.ops.TrainingPrep.emailPattern}', '[EMAIL]', 'g'),
        |    '${graft.ops.TrainingPrep.digitRunPattern}', '[NUM]', 'g')) AS n_chars_scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // BM25 sparse retrieval (quality-by-retrieval / corpus slicing).
    // Per-term scores floor to micros BEFORE the per-(query,doc) sum,
    // so the aggregation runs over exact longs; the oracle SQL repeats
    // the identical IEEE expression shape (avgdl first, then
    // dl/avgdl), so both engines execute the same rounding sequence.
    QuerySpec("q76_bm25",
      (s, dir) => {
        import s.implicits._
        val q = bm25Queries.toDF("query_id", "term")
        graft.ops.MlPrep.bm25TopK(table(s, dir, "documents"),
            "doc_id", "text", q, "query_id", "term", topN = 10)
          .orderBy(col("query_id"), col("rank"))
      },
      Some {
        val qvals = bm25Queries
          .map { case (i, t) => s"($i, '$t')" }.mkString(", ")
        s"""WITH q(query_id, term) AS (VALUES $qvals),
           |tok AS (SELECT doc_id,
           |    UNNEST(string_split_regex(trim(text), '\\s+')) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
           |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
           |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
           |stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl FROM dl),
           |hits AS (SELECT q.query_id, tf.doc_id,
           |    CAST(floor(1e6
           |      * ln(1.0 + (CAST(stats.n - dfq.df AS DOUBLE) + 0.5)
           |                 / (CAST(dfq.df AS DOUBLE) + 0.5))
           |      * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
           |        / (CAST(tf.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75
           |            * (CAST(dl.dl AS DOUBLE)
           |               / (CAST(stats.sdl AS DOUBLE) / stats.n))))) AS BIGINT)
           |      AS sm
           |  FROM q JOIN tf USING (term) JOIN dfq USING (term)
           |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats),
           |agg AS (SELECT query_id, doc_id,
           |    CAST(SUM(sm) AS BIGINT) AS score_micro
           |  FROM hits GROUP BY 1, 2),
           |ranked AS (SELECT query_id, doc_id, score_micro,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY score_micro DESC, doc_id ASC) AS INTEGER) AS rank
           |  FROM agg)
           |SELECT query_id, rank, doc_id, score_micro FROM ranked
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
      }),

    // Per-source cap (domain quota): keep the maxPerSource longest
    // docs per source, (n_chars desc, doc_id asc) total order.
    QuerySpec("q77_source_cap",
      (s, dir) => graft.ops.TrainingPrep.capPerSource(
          table(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("n_chars")),
          "source", "doc_id", col("n_chars"), maxPerSource = 10)
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, source, n_chars, src_rank FROM (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS INTEGER) AS src_rank
        |  FROM documents)
        |WHERE src_rank <= 10 ORDER BY doc_id""".stripMargin)),

    // Duplicated-span rate: fraction of each doc's trigram POSITIONS
    // whose trigram appears in another doc — the substring-dedup
    // diagnostic. Exact integer counts; floor'd micros.
    QuerySpec("q78_span_dup",
      (s, dir) => graft.ops.Dedup.duplicatedSpanRate(
          table(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sp AS (SELECT doc_id,
        |    UNNEST([array_to_string(toks[i:i+2], ' ')
        |            FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
        |  FROM t WHERE len(toks) >= 3),
        |xd AS (SELECT shingle FROM (
        |    SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM sp GROUP BY 1)
        |  WHERE df > 1),
        |n AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY 1),
        |d AS (SELECT doc_id, COUNT(*) AS n_dup FROM sp
        |  WHERE shingle IN (SELECT shingle FROM xd) GROUP BY 1)
        |SELECT n.doc_id, n.n_spans, COALESCE(d.n_dup, 0) AS n_dup,
        |  CAST(floor(CAST(COALESCE(d.n_dup, 0) AS DOUBLE) * 1000000
        |       / n.n_spans) AS BIGINT) AS rate_micro
        |FROM n LEFT JOIN d ON d.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin)),

    // Near-dup APPLY step: q64's component labeling turned into the
    // dedup decision — min-id canonical survives, other members drop,
    // all columns pass through. Oracle reuses the recursive-CTE
    // closure and anti-selects the losers.
    QuerySpec("q79_neardup_dedup",
      (s, dir) => graft.ops.Dedup.nearDupDeduplicated(
          table(s, dir, "documents"), "doc_id", "text",
          k = 3, threshold = 0.5)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    UNNEST([array_to_string(toks[i:i+2], ' ')
        |            FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
        |  FROM t WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |good AS (SELECT id_a, id_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM good
        |  UNION SELECT id_b, id_a FROM good),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  WITH RECURSIVE r(src, node) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT r.src, e.b FROM r JOIN edges e ON e.a = r.node)
        |  SELECT * FROM r),
        |comp AS (SELECT src AS id, MIN(node) AS component
        |  FROM reach GROUP BY src)
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
        |ORDER BY doc_id""".stripMargin)),

    // Stratified mod-sample: per-language keep denominators (en 1/2,
    // es 1/4, zh 1/5, everything else 1/10) as a literal CASE chain —
    // the corpus-mix rebalancing step, append-stable per stratum.
    // THE canonical web-scale fuzzy-dedup pipeline, end-to-end and
    // hash-exact: MinHash signatures -> LSH band buckets -> candidate
    // pairs (est Jaccard gate) -> connected components -> min-id apply.
    // Uses the md5-portable minhash twin (q70 precedent) so the whole
    // composite is oracle-checked, not just rows-only.
    QuerySpec("q81_fuzzy_dedup_e2e",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        graft.ops.Dedup.dedupByPairs(docs, "doc_id",
            graft.ops.Dedup.minhashLshPairsPortable(docs, "doc_id", "text",
              k = 2, numHashes = 8, bands = 2, estThreshold = 0.5),
            "id_a", "id_b")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    UNNEST([array_to_string(toks[i:i+1], ' ')
        |            FOR i IN generate_series(1, len(toks) - 1)]) AS shingle
        |  FROM t WHERE len(toks) >= 2),
        |sig AS (SELECT doc_id,
        |    min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
        |    min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
        |    min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5,
        |    min(md5('6:' || shingle)) AS h6, min(md5('7:' || shingle)) AS h7
        |  FROM sh GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, 0 AS band, md5(h0 || h1 || h2 || h3) AS bh FROM sig
        |  UNION ALL
        |  SELECT doc_id, 1 AS band, md5(h4 || h5 || h6 || h7) AS bh FROM sig),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM banded a JOIN banded b USING (band, bh)
        |  WHERE a.doc_id < b.doc_id),
        |good AS (SELECT id_a, id_b FROM cand
        |  JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
        |  WHERE ((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT +
        |   (sa.h3 = sb.h3)::INT + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT +
        |   (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT) / 8.0 >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM good
        |  UNION SELECT id_b, id_a FROM good),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  WITH RECURSIVE r(src, node) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT r.src, e.b FROM r JOIN edges e ON e.a = r.node)
        |  SELECT * FROM r),
        |comp AS (SELECT src AS id, MIN(node) AS component
        |  FROM reach GROUP BY src)
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
        |ORDER BY doc_id""".stripMargin)),

    // Token-window chunking (context-length preprocessing): 32-token
    // windows advancing by 24 (8-token overlap). chunk_id ==
    // start/stride because starts are exactly the stride multiples.
    QuerySpec("q84_chunk_text",
      (s, dir) => graft.ops.TrainingPrep.chunkByTokens(
          table(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 32, strideTokens = 24)
        .withColumn("n_chunk_tokens", col("n_chunk_tokens").cast("long"))
        .orderBy(col("doc_id"), col("chunk_id")),
      Some("""WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |    UNNEST(generate_series(0, len(toks) - 1, 24)) AS s
        |  FROM t)
        |SELECT doc_id, CAST(s // 24 AS INTEGER) AS chunk_id,
        |  CAST(len(toks[s + 1 : s + 32]) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(toks[s + 1 : s + 32], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // Incremental dedup (the daily-crawl shape): an incoming batch
    // with planted exact dups (same text, new id), near-dups
    // (one appended token), and genuinely-new docs (per-token prefix
    // breaks all shingles) deduped AGAINST the corpus — only the new
    // docs survive, and cost is proportional to the batch.
    QuerySpec("q86_dedup_increment",
      (s, dir) => {
        val corpus = table(s, dir, "documents")
        val incoming = corpus.filter(pmod(col("doc_id"), lit(7)) === 3)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(col("text"), lit(" zzqx")).as("text"))
          .unionByName(corpus.filter(pmod(col("doc_id"), lit(7)) === 5)
            .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
          .unionByName(corpus.filter(pmod(col("doc_id"), lit(7)) === 1)
            .select((col("doc_id") + 3000000).as("doc_id"),
              regexp_replace(col("text"), "(\\S+)", "zq$1").as("text")))
        graft.ops.Dedup.dedupIncrement(corpus, incoming, "doc_id", "text",
            k = 3, threshold = 0.5)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH inc AS (
        |  SELECT doc_id + 1000000 AS doc_id, text || ' zzqx' AS text
        |    FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 5
        |  UNION ALL
        |  SELECT doc_id + 3000000, regexp_replace(text, '(\S+)', 'zq\1', 'g')
        |    FROM documents WHERE doc_id % 7 = 1),
        |ex AS (SELECT * FROM inc
        |  WHERE text NOT IN (SELECT text FROM documents)),
        |it AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM ex),
        |ish AS (SELECT DISTINCT doc_id,
        |    UNNEST([array_to_string(toks[i:i+2], ' ')
        |            FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
        |  FROM it WHERE len(toks) >= 3),
        |ct AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |csh AS (SELECT DISTINCT doc_id,
        |    UNNEST([array_to_string(toks[i:i+2], ' ')
        |            FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
        |  FROM ct WHERE len(toks) >= 3),
        |isz AS (SELECT doc_id, COUNT(*) AS n FROM ish GROUP BY 1),
        |csz AS (SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY 1),
        |pairs AS (SELECT i.doc_id AS iid, c.doc_id AS cid, COUNT(*) AS inter
        |  FROM ish i JOIN csh c USING (shingle) GROUP BY 1, 2),
        |los AS (SELECT DISTINCT iid FROM pairs
        |  JOIN isz ON isz.doc_id = iid JOIN csz ON csz.doc_id = cid
        |  WHERE CAST(inter AS DOUBLE) / (isz.n + csz.n - inter) >= 0.5)
        |SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT iid FROM los)
        |ORDER BY doc_id""".stripMargin)),

    // Full incremental dedup: the q86 batch EXTENDED with planted
    // within-batch duplicates — an exact copy of the new-doc arm
    // (+4M: same text, higher id) and a near-dup of it (+5M: one
    // appended token). dedupIncrementFull runs batch-internal exact +
    // near-dup dedup FIRST (min-id canonicals survive both), then the
    // batch-vs-corpus increment — so only the +3M arm survives. The
    // oracle replays all three stages (window, recursive-CTE
    // components, anti-joins).
    QuerySpec("q89_dedup_increment_full",
      (s, dir) => {
        val corpus = table(s, dir, "documents")
        graft.ops.Dedup.dedupIncrementFull(corpus,
            incrementFullBatch(corpus), "doc_id", "text",
            k = 3, threshold = 0.5)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some(incrementFullOracleSql(31))),
    // Priority-survivor near-dup dedup: within each component the
    // LONGEST document wins (id tiebreak) instead of the lowest id —
    // what production dedup usually keeps.
    QuerySpec("q87_neardup_priority",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        graft.ops.Dedup.dedupByPairsPriority(docs, "doc_id",
            graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
              k = 3, threshold = 0.5),
            "id_a", "id_b", col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    UNNEST([array_to_string(toks[i:i+2], ' ')
        |            FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
        |  FROM t WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |good AS (SELECT id_a, id_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM good
        |  UNION SELECT id_b, id_a FROM good),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  WITH RECURSIVE r(src, node) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT r.src, e.b FROM r JOIN edges e ON e.a = r.node)
        |  SELECT * FROM r),
        |comp AS (SELECT src AS id, MIN(node) AS component
        |  FROM reach GROUP BY src),
        |win AS (SELECT comp.id AS doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY comp.component
        |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
        |  FROM comp JOIN documents d ON d.doc_id = comp.id)
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM win WHERE rk > 1)
        |ORDER BY doc_id""".stripMargin)),

    QuerySpec("q80_stratified_sample",
      (s, dir) => graft.ops.TrainingPrep.stratifiedModSample(
          table(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 2, "es" -> 4, "zh" -> 5), defaultDenom = 10)
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id % (CASE lang WHEN 'en' THEN 2 WHEN 'es' THEN 4
        |  WHEN 'zh' THEN 5 ELSE 10 END) = 0
        |ORDER BY doc_id""".stripMargin)),

    // Exact phrase search over the positional inverted index (r14):
    // the retrieval question BM25's unigram postings cannot answer —
    // "value table" / "query value table" as PHRASES. Anchor = first
    // term's postings; each later term left-semi equi-joins on
    // (doc, anchor_pos + i), so candidates shrink monotonically and
    // cost is bounded by the phrase terms' posting lists, never the
    // corpus. Two labeled phrases exercise the 2- and 3-term chains.
    QuerySpec("q259_phrase_search",
      (s, dir) => {
        val idx = graft.ops.MlPrep.positionalIndex(
          table(s, dir, "documents"), "doc_id", "text")
        graft.ops.MlPrep.phraseHits(idx, Seq("value", "table"))
          .withColumn("phrase", lit("value table"))
          .unionByName(
            graft.ops.MlPrep.phraseHits(idx,
                Seq("query", "value", "table"))
              .withColumn("phrase", lit("query value table")))
          .select(col("phrase"), col("doc_id"), col("n_hits"))
          .orderBy(col("phrase"), col("doc_id"))
      },
      Some("""WITH tk AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term,
        |    CAST(generate_subscripts(
        |      string_split_regex(trim(text), '\s+'), 1) AS BIGINT)
        |      AS pos
        |  FROM documents WHERE text IS NOT NULL),
        |p2 AS (SELECT 'value table' AS phrase, a.doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM tk a JOIN tk b ON b.doc_id = a.doc_id
        |    AND b.pos = a.pos + 1
        |  WHERE a.term = 'value' AND b.term = 'table'
        |  GROUP BY 2),
        |p3 AS (SELECT 'query value table' AS phrase, a.doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM tk a JOIN tk b ON b.doc_id = a.doc_id
        |    AND b.pos = a.pos + 1
        |  JOIN tk c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |  WHERE a.term = 'query' AND b.term = 'value'
        |    AND c.term = 'table'
        |  GROUP BY 2)
        |SELECT * FROM p2 UNION ALL SELECT * FROM p3
        |ORDER BY phrase, doc_id""".stripMargin)),

    // Sliding-window term co-occurrence (r14): the word2vec/GloVe
    // co-occurrence counts — unordered term pairs within 3 tokens,
    // min-count 5. Candidates are KEYED (each occurrence explodes to
    // its 3 successor positions, equi-join on (doc, pos)): rows·w
    // work, never the per-doc len² cartesian a theta join would plan.
    QuerySpec("q263_window_cooccurrence",
      (s, dir) => graft.ops.MlPrep.windowCooccurrence(
          graft.ops.MlPrep.positionalIndex(
            table(s, dir, "documents"), "doc_id", "text"),
          window = 3, minCount = 5L)
        .orderBy(col("term_a"), col("term_b")),
      Some("""WITH tk AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term,
        |    CAST(generate_subscripts(
        |      string_split_regex(trim(text), '\s+'), 1) AS BIGINT)
        |      AS pos
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT LEAST(a.term, b.term) AS term_a,
        |  GREATEST(a.term, b.term) AS term_b,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM tk a JOIN tk b ON b.doc_id = a.doc_id
        |  AND b.pos > a.pos AND b.pos <= a.pos + 3
        |GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |ORDER BY term_a, term_b""".stripMargin)),

    // Collocation lift (r14): q263's pairs scored against the
    // configuration-model expectation — lift = n_ab·2m/(deg_a·deg_b)
    // in exact micros (PMI = ln(lift), the q252 log-free move on the
    // word2vec pair space). Self-pairs excluded from output, kept in
    // marginals; minCount after marginals so shares stay coherent.
    QuerySpec("q269_collocations",
      (s, dir) => graft.ops.MlPrep.collocations(
          graft.ops.MlPrep.positionalIndex(
            table(s, dir, "documents"), "doc_id", "text"),
          window = 3, minCount = 5L)
        .orderBy(col("term_a"), col("term_b")),
      Some("""WITH tk AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term,
        |    CAST(generate_subscripts(
        |      string_split_regex(trim(text), '\s+'), 1) AS BIGINT)
        |      AS pos
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT LEAST(a.term, b.term) AS term_a,
        |    GREATEST(a.term, b.term) AS term_b,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tk a JOIN tk b ON b.doc_id = a.doc_id
        |    AND b.pos > a.pos AND b.pos <= a.pos + 3
        |  GROUP BY 1, 2),
        |d AS (SELECT term, CAST(SUM(n) AS BIGINT) AS deg FROM (
        |    SELECT term_a AS term, n FROM p
        |    UNION ALL SELECT term_b, n FROM p)
        |  GROUP BY term),
        |t AS (SELECT CAST(SUM(n) * 2 AS BIGINT) AS m2 FROM p)
        |SELECT p.term_a, p.term_b, p.n, da.deg AS deg_a,
        |  db.deg AS deg_b, t.m2,
        |  CAST((1000000 * CAST(p.n AS HUGEINT) * t.m2) //
        |    (CAST(da.deg AS HUGEINT) * db.deg) AS BIGINT)
        |    AS lift_micro
        |FROM p JOIN d da ON p.term_a = da.term
        |JOIN d db ON p.term_b = db.term CROSS JOIN t
        |WHERE p.term_a <> p.term_b AND p.n >= 5
        |ORDER BY term_a, term_b""".stripMargin)),

    // Proximity search (r14): "query NEAR/4 table", either order —
    // the retrieval middle ground between q259's exact phrase and
    // BM25's bag-of-words; per-doc occurrence-pair counts, postings
    // filtered up front, doc-keyed equi join with the distance as a
    // residual filter.
    QuerySpec("q278_proximity",
      (s, dir) => graft.ops.MlPrep.proximityHits(
          graft.ops.MlPrep.positionalIndex(
            table(s, dir, "documents"), "doc_id", "text"),
          "query", "table", slop = 4)
        .orderBy(col("doc_id")),
      Some("""WITH tk AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term,
        |    CAST(generate_subscripts(
        |      string_split_regex(trim(text), '\s+'), 1) AS BIGINT)
        |      AS pos
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM tk a JOIN tk b ON b.doc_id = a.doc_id
        |  AND a.pos <> b.pos AND ABS(a.pos - b.pos) <= 4
        |WHERE a.term = 'query' AND b.term = 'table'
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin))
  )
}
