package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QuerySpec.{events, eventsSql, table}

/** Batch 17 (round 15): the analytics widening past the monitor/eval
  * wings — ranking-evaluation metrics (the retrieval side of the
  * ML-eval family), graph depth (k-core, per-node clustering), and
  * corpus statistics. Exact-arithmetic discipline throughout. */
object EvalQueries {

  /** The deterministic per-language pseudo-ranking + graded-relevance
    * fixture for the ranking-eval gate: within each lang, docs rank
    * by an md5 lane (with doc_id tiebreak) and carry an INDEPENDENT
    * md5-derived grade ∈ {0, 1, 2} — so hits/misses at every cutoff
    * are non-degenerate and both engines re-derive ranking AND
    * judgments from the same hex arithmetic (the ranking OPERATOR
    * itself — BM25 — is q76's gate; this gate tests the metrics). */
  private def rankingFixture(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(
      col("lang"), col("doc_id"),
      conv(substring(md5(concat(lit("rk:"), col("lang"), lit(":"),
        col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long").as("__h"),
      (conv(substring(md5(concat(lit("rel:"), col("lang"), lit(":"),
        col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 5).as("__rv"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("__h"), col("doc_id"))))
      .withColumn("rel",
        when(col("__rv") === 0, 2L).when(col("__rv") === 1, 1L)
          .otherwise(0L))

  private val rankingFixtureSql: String =
    """d AS (SELECT lang, doc_id,
      |    CAST(('0x' || substr(md5('rk:' || lang || ':' ||
      |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
      |    CAST(('0x' || substr(md5('rel:' || lang || ':' ||
      |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS rv
      |  FROM documents),
      |r AS (SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
      |      AS rnk,
      |    CAST(CASE rv WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END
      |      AS BIGINT) AS rel
      |  FROM d)""".stripMargin

  /** The vocabulary-expansion lane for the term-similarity gates
    * (r16, VERDICT r15 #1): the synthetic corpus has a ~31-word
    * vocabulary, so at sf0.1 EVERY base word's df exceeds any fixed
    * in-band cap and the informative band empties — both engines
    * agreed on an empty result, the weakest possible hash match. This
    * fixture appends deterministic doc_id-derived terms whose df is
    * SCALE-INDEPENDENT (the q283/q129 encode-half move): `vx<b>` with
    * b = doc_id div 4 lands in exactly 4 docs (twice in even doc_ids,
    * so tf varies), `vy<b>` with b = doc_id div 8 in exactly 8 — both
    * inside the (1, 60] band at every sf. Within a 4-block the
    * planted in-band vectors are (vx:2, vy:1) for even and (vx:1,
    * vy:1) for odd doc_ids, so when the base words are out of band
    * (sf0.1) every 4-block pair lands at a hand-computable score:
    * cosine 1.0 same-parity / 3/√10 ≈ 0.948683 cross-parity, J_w
    * 10⁶ / 666666 micros — pinned by TermSimilaritySpec. The oracle
    * re-derives the lane from the same doc_id arithmetic. */
  private[graft] def vocabLane(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(
        coalesce(col("text"), lit("")),
        lit(" vx"), expr("doc_id div 4").cast("string"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" vx"), expr("doc_id div 4").cast("string")))
          .otherwise(lit("")),
        lit(" vy"), expr("doc_id div 8").cast("string")).as("text"))

  private def vocabDocs(s: SparkSession, dir: String): DataFrame =
    vocabLane(table(s, dir, "documents"))

  private val vocabDocsSql: String =
    """vd AS (SELECT doc_id,
      |    COALESCE(text, '') ||
      |    ' vx' || CAST(doc_id // 4 AS VARCHAR) ||
      |    CASE WHEN doc_id % 2 = 0
      |      THEN ' vx' || CAST(doc_id // 4 AS VARCHAR) ELSE '' END ||
      |    ' vy' || CAST(doc_id // 8 AS VARCHAR) AS text
      |  FROM documents)""".stripMargin

  /** The exact integer PCA chain as a DuckDB WITH-body (r16): micro
    * vectors → full n·G − s·sᵀ scatter → `iters` unrolled
    * L∞-normalized integer power iterations (the q72 unrolled-Lloyd
    * move; `//` ≡ JVM/Spark truncation, verified) ending at CTE
    * `v<iters>`. Shared by the direction and projection gates. */
  private def pcaChainSql(iters: Int): String = {
    // every multi-referenced CTE is MATERIALIZED: DuckDB inlines CTEs
    // by default, and the w/x/v chain references each level twice —
    // un-materialized, the unrolled plan re-evaluates the whole
    // prefix per reference (measured ~3× per iteration = exponential
    // in `iters`; T=8 never finished). MATERIALIZED caps each level
    // at one evaluation, the semantics the unroll means.
    def iter(t: Int): String =
      s"""w$t AS MATERIALIZED (SELECT mf.i AS dim, SUM(mf.m * v.v) AS w
         |  FROM mf JOIN v${t - 1} v ON v.dim = mf.j GROUP BY 1),
         |x$t AS (SELECT MAX(ABS(w)) AS mw FROM w$t),
         |v$t AS MATERIALIZED (SELECT dim, (1000000 * w) // mw AS v
         |  FROM w$t, x$t)""".stripMargin
    s"""xm AS MATERIALIZED (SELECT vec_id,
       |    [CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
       |      FOR x IN embedding] AS v
       |  FROM embeddings
       |  WHERE vec_id % 4 = 0
       |    AND embedding IS NOT NULL AND len(embedding) = 64),
       |gf AS (SELECT a.ai - 1 AS i, b.bj - 1 AS j,
       |    SUM(CAST(v[a.ai] AS HUGEINT) * v[b.bj]) AS gij
       |  FROM xm, generate_series(1, 64) a(ai),
       |    generate_series(1, 64) b(bj)
       |  GROUP BY 1, 2),
       |sv AS MATERIALIZED (SELECT i - 1 AS dim,
       |    SUM(CAST(v[i] AS HUGEINT)) AS s,
       |    CAST(COUNT(*) AS HUGEINT) AS n
       |  FROM xm, generate_series(1, 64) g(i) GROUP BY 1),
       |mf AS MATERIALIZED (SELECT gf.i, gf.j,
       |    sa.n * gf.gij - sa.s * sb.s AS m
       |  FROM gf JOIN sv sa ON sa.dim = gf.i
       |  JOIN sv sb ON sb.dim = gf.j),
       |v0 AS MATERIALIZED (SELECT t.i AS dim,
       |    CASE WHEN t.i = (SELECT i FROM mf WHERE i = j
       |      ORDER BY m DESC, i LIMIT 1)
       |    THEN CAST(1000000 AS HUGEINT) ELSE 0 END AS v
       |  FROM range(0, 64) t(i)),
       |${(1 to iters).map(iter).mkString(",\n")}""".stripMargin
  }

  /** Deflation chain for [[graft.ops.Similarity
    * .principalComponentsMicro]]'s oracle (r17): the [[pcaChainSql]]
    * prefix (xm/gf/sv/mf) followed, per component c, by the
    * 8-iteration power chain over mf_c and the Hotelling deflation
    * mf_{c+1}[i,j] = mf_c[i,j] − ((vMv // vv)·vᵢ·vⱼ) // vv — every
    * division the verified trunc-toward-zero `//`, every
    * multi-referenced CTE MATERIALIZED (DuckDB inlines CTEs
    * exponentially otherwise). Exposes v8_c per component and a
    * `comps` union (component, dim, v). */
  private def pcaComponentsChainSql(iters: Int, k: Int): String = {
    def iterCte(t: Int, c: Int): String =
      s"""w${t}_$c AS MATERIALIZED (SELECT mf_$c.i AS dim,
         |    SUM(mf_$c.m * v.v) AS w
         |  FROM mf_$c JOIN v${t - 1}_$c v ON v.dim = mf_$c.j
         |  GROUP BY 1),
         |x${t}_$c AS (SELECT MAX(ABS(w)) AS mw FROM w${t}_$c),
         |v${t}_$c AS MATERIALIZED (SELECT dim, (1000000 * w) // mw AS v
         |  FROM w${t}_$c, x${t}_$c)""".stripMargin
    def block(c: Int): String = {
      val v0 =
        s"""v0_$c AS MATERIALIZED (SELECT t.i AS dim,
           |    CASE WHEN t.i = (SELECT i FROM mf_$c WHERE i = j
           |      ORDER BY m DESC, i LIMIT 1)
           |    THEN CAST(1000000 AS HUGEINT) ELSE 0 END AS v
           |  FROM range(0, 64) t(i))""".stripMargin
      val chain = (1 to iters).map(iterCte(_, c)).mkString(",\n")
      val defl = if (c == k) "" else
        s""",
           |vv_$c AS (SELECT SUM(v * v) AS vv FROM v${iters}_$c),
           |vmv_$c AS (SELECT SUM(va.v * mf_$c.m * vb.v) AS vmv
           |  FROM mf_$c JOIN v${iters}_$c va ON va.dim = mf_$c.i
           |  JOIN v${iters}_$c vb ON vb.dim = mf_$c.j),
           |t1_$c AS (SELECT vmv // vv AS t1 FROM vmv_$c, vv_$c),
           |mf_${c + 1} AS MATERIALIZED (SELECT mf_$c.i, mf_$c.j,
           |    mf_$c.m - (t1_$c.t1 * va.v * vb.v) // vv_$c.vv AS m
           |  FROM mf_$c JOIN v${iters}_$c va ON va.dim = mf_$c.i
           |  JOIN v${iters}_$c vb ON vb.dim = mf_$c.j, t1_$c, vv_$c)"""
          .stripMargin
      s"$v0,\n$chain$defl"
    }
    val comps = (1 to k).map(c =>
      s"""SELECT ${c - 1} AS component, dim, v FROM v${iters}_$c""")
      .mkString("\n  UNION ALL ")
    val prefix = pcaChainSql(0).trim.stripSuffix(",").trim
      .stripSuffix(",") // iters=0 leaves a dangling comma + v0 tail
    s"""$prefix,
       |mf_1 AS MATERIALIZED (SELECT i, j, m FROM mf),
       |${(1 to k).map(block).mkString(",\n")},
       |comps AS MATERIALIZED ($comps)""".stripMargin
  }

  /** The 10⁶-scaled 1/log₂(i+1) discounts as a SQL CASE (positions
    * 1..10) — the same published table as
    * [[graft.ops.Profile.ndcgDiscountMicro]]. */
  private def discSql(rn: String): String =
    s"""CASE $rn WHEN 1 THEN 1000000 WHEN 2 THEN 630929
       | WHEN 3 THEN 500000 WHEN 4 THEN 430676 WHEN 5 THEN 386852
       | WHEN 6 THEN 356207 WHEN 7 THEN 333333 WHEN 8 THEN 315464
       | WHEN 9 THEN 301029 WHEN 10 THEN 289064 ELSE 0 END"""
      .stripMargin.replace("\n", "")

  def all: Seq[QuerySpec] = Seq(

    // Ranking-evaluation metrics (r15): hits@k, reciprocal rank,
    // precision/recall@k and NDCG@10 per query — every metric an
    // exact integer micro; the log₂ discounts are published 10⁶
    // constants (the Benford move), so DCG/IDCG hash cross-engine.
    // The fixture's pseudo-ranking and grades are independent md5
    // lanes; the oracle replays ranking, judgments, both DCG sides,
    // and every ratio.
    QuerySpec("q284_ranking_eval",
      (s, dir) => {
        val fx = rankingFixture(s, dir)
        graft.ops.Profile.rankingEval(
            fx.select(col("lang"), col("doc_id"), col("rank")),
            fx.select(col("lang"), col("doc_id"), col("rel")),
            "lang", "doc_id", "rank", "rel", k = 10)
          .orderBy(col("lang"))
      },
      Some(s"""WITH $rankingFixtureSql,
        |j AS (SELECT lang, doc_id, rel FROM r WHERE rel > 0),
        |top AS (SELECT lang, doc_id, rnk FROM r WHERE rnk <= 10),
        |obs AS (SELECT t.lang AS lang,
        |    SUM(CASE WHEN j.rel > 0 THEN 1 ELSE 0 END) AS hits_at_k,
        |    MIN(CASE WHEN j.rel > 0 THEN t.rnk END) AS first_rel,
        |    SUM(COALESCE(j.rel, 0) * ${discSql("t.rnk")}) AS dcg
        |  FROM top t LEFT JOIN j
        |    ON j.lang = t.lang AND j.doc_id = t.doc_id
        |  GROUP BY t.lang),
        |i0 AS (SELECT lang, rel, ROW_NUMBER() OVER
        |    (PARTITION BY lang ORDER BY rel DESC, doc_id) AS ir
        |  FROM j),
        |ideal AS (SELECT lang, SUM(rel * ${discSql("ir")}) AS idcg
        |  FROM i0 WHERE ir <= 10 GROUP BY lang),
        |nr AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rel
        |  FROM j GROUP BY lang)
        |SELECT o.lang AS lang, nr.n_rel,
        |  CAST(o.hits_at_k AS BIGINT) AS hits_at_k,
        |  CAST(CASE WHEN o.first_rel IS NULL THEN 0
        |    ELSE 1000000 // o.first_rel END AS BIGINT) AS rr_micro,
        |  CAST((1000000 * o.hits_at_k) // 10 AS BIGINT)
        |    AS p_at_k_micro,
        |  CAST((1000000 * o.hits_at_k) // nr.n_rel AS BIGINT)
        |    AS recall_at_k_micro,
        |  CAST(o.dcg AS BIGINT) AS dcg_micro,
        |  CAST(i.idcg AS BIGINT) AS idcg_micro,
        |  CAST((1000000 * o.dcg) // i.idcg AS BIGINT) AS ndcg_micro
        |FROM obs o JOIN ideal i ON i.lang = o.lang
        |JOIN nr ON nr.lang = o.lang
        |ORDER BY o.lang""".stripMargin)),

    // Bounded-round k-core peel (r15): 4 rounds of "drop nodes with
    // surviving degree < 3" over the quantity-sparsified
    // part↔supplier incidence graph (suppliers offset to a disjoint
    // id space; low-quantity edges keep part degrees near the peel
    // threshold, so rounds genuinely cascade). Bounded rounds is the
    // contract (the bfsHops/PageRank discipline) — the oracle
    // unrolls the same 4 rounds. Output = surviving nodes with
    // in-subgraph degree.
    QuerySpec("q285_kcore",
      (s, dir) => graft.ops.Graph.kCorePeel(
          table(s, dir, "lineitem").filter(col("l_quantity") <= 3)
            .select(col("l_partkey").as("p"),
              (col("l_suppkey") + 1000000L).as("sp")),
          "p", "sp", k = 3, rounds = 4)
        .orderBy(col("id")),
      Some {
        val rounds = (1 to 4).map { i =>
          s"""k$i AS (SELECT u FROM ue${i - 1} GROUP BY u
             |  HAVING COUNT(*) >= 3),
             |ue$i AS (SELECT e.u, e.v FROM ue${i - 1} e
             |  JOIN k$i a ON a.u = e.u JOIN k$i b ON b.u = e.v)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (SELECT DISTINCT l_partkey AS p,
           |    l_suppkey + 1000000 AS sp
           |  FROM lineitem WHERE l_quantity <= 3),
           |ue0 AS (SELECT p AS u, sp AS v FROM e0
           |  UNION ALL SELECT sp, p FROM e0),
           |$rounds
           |SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS deg
           |FROM ue4 GROUP BY u ORDER BY id""".stripMargin
      }),

    // Per-node triangle participation + local clustering coefficient
    // (r15) over the q149 mod-211 graph: the degree-ordered wedge
    // machinery kept per node, lcc_micro = (10⁶·2·t) div (deg·(deg−1))
    // exact. The oracle enumerates each triangle once by the a<b<c
    // canonical form and credits all three corners.
    QuerySpec("q286_clustering_coeff",
      (s, dir) => graft.ops.Graph.clusteringCoefficients(
          table(s, dir, "lineitem")
            .filter(col("l_orderkey") % 4 === 0)
            .select(pmod(col("l_partkey"), lit(211)).as("src"),
              pmod(col("l_suppkey"), lit(211)).as("dst")),
          "src", "dst")
        .orderBy(col("id")),
      Some("""WITH raw AS (SELECT l_partkey % 211 AS s,
        |    l_suppkey % 211 AS d FROM lineitem
        |  WHERE l_orderkey % 4 = 0),
        |ce AS (SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
        |  FROM raw WHERE s <> d),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM ce e1 JOIN ce e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN ce e3 ON e3.a = e1.b AND e3.b = e2.b),
        |tc AS (SELECT v, COUNT(*) AS t FROM (
        |    SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri) GROUP BY v),
        |deg AS (SELECT v, COUNT(*) AS deg FROM (
        |    SELECT a AS v FROM ce UNION ALL SELECT b FROM ce)
        |  GROUP BY v)
        |SELECT deg.v AS id, CAST(deg.deg AS BIGINT) AS deg,
        |  CAST(COALESCE(tc.t, 0) AS BIGINT) AS n_triangles,
        |  CAST((1000000 * 2 * COALESCE(tc.t, 0)) //
        |    (deg.deg * (deg.deg - 1)) AS BIGINT) AS lcc_micro
        |FROM deg LEFT JOIN tc ON tc.v = deg.v
        |WHERE deg.deg > 1 ORDER BY id""".stripMargin)),

    // Zipf rank-frequency spectrum (r15): the 100 most frequent
    // corpus terms with exact counts and corpus share in micros —
    // one map-side-combinable term count + a TakeOrdered top-K +
    // the allowlisted 1-row total attach; rank is the output order
    // (freq DESC, term ASC — deterministic at the K boundary).
    QuerySpec("q287_term_spectrum",
      (s, dir) => graft.ops.TextAnalysis.termSpectrum(
          table(s, dir, "documents"), "text", topK = 100)
        .orderBy(col("freq").desc, col("term")),
      Some("""WITH t AS (SELECT UNNEST(string_split_regex(trim(text),
        |    '\s+')) AS term FROM documents WHERE text IS NOT NULL),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM t),
        |f AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM t
        |  GROUP BY term ORDER BY freq DESC, term LIMIT 100)
        |SELECT term, freq,
        |  CAST((1000000 * freq) // tot.total AS BIGINT) AS share_micro
        |FROM f, tot ORDER BY freq DESC, term""".stripMargin)),

    // Boolean retrieval (r15): value AND table AND NOT query over
    // the positional index — doc-keyed semi/anti joins over
    // up-front-filtered postings (the phraseHits cost discipline),
    // with the must terms' occurrence total as the relevance proxy.
    QuerySpec("q288_boolean_retrieval",
      (s, dir) => graft.ops.MlPrep.booleanRetrieve(
          graft.ops.MlPrep.positionalIndex(
            table(s, dir, "documents"), "doc_id", "text"),
          must = Seq("value", "table"), mustNot = Seq("query"))
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (SELECT doc_id,
        |    UNNEST(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |m1 AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'value'),
        |m2 AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'table'),
        |nx AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'query'),
        |keep AS (SELECT m1.doc_id FROM m1 JOIN m2 USING (doc_id)
        |  WHERE m1.doc_id NOT IN (SELECT doc_id FROM nx))
        |SELECT k.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |FROM keep k JOIN tok ON tok.doc_id = k.doc_id
        |  AND tok.term IN ('value', 'table')
        |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin)),

    // Heaps-law vocabulary growth (r15): per id-order decile, the
    // count of terms first seen there beside the decile's token
    // volume — first-occurrence = one min per term, bucket
    // arithmetic on the allowlisted 1-row max attach.
    QuerySpec("q289_vocab_growth",
      (s, dir) => graft.ops.TextAnalysis.vocabGrowth(
          table(s, dir, "documents"), "doc_id", "text", buckets = 10)
        .orderBy(col("bucket")),
      Some("""WITH d AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
        |mx AS (SELECT MAX(doc_id) AS m FROM d),
        |tok AS (SELECT doc_id, UNNEST(toks) AS term FROM d),
        |fd AS (SELECT term, MIN(doc_id) AS fd FROM tok GROUP BY term),
        |nt AS (SELECT (fd * 10) // (mx.m + 1) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS new_terms
        |  FROM fd, mx GROUP BY 1),
        |tb AS (SELECT (doc_id * 10) // (mx.m + 1) AS bucket,
        |    CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
        |  FROM d, mx GROUP BY 1)
        |SELECT tb.bucket,
        |  CAST(COALESCE(nt.new_terms, 0) AS BIGINT) AS new_terms,
        |  tb.n_tokens
        |FROM tb LEFT JOIN nt ON nt.bucket = tb.bucket
        |ORDER BY tb.bucket""".stripMargin)),

    // Bounded-round weighted shortest paths (r15): 3 Bellman–Ford
    // rounds from the mod-10 supplier seeds over the part↔supplier
    // incidence graph with quantity edge costs (parallel edges
    // collapse to their min). The oracle unrolls the same rounds —
    // the q151 discipline with +w instead of +1.
    QuerySpec("q290_shortest_paths",
      (s, dir) => graft.ops.Graph.shortestPaths(
          table(s, dir, "lineitem")
            .filter(col("l_orderkey") % 4 === 0)
            .select(
            col("l_partkey").as("p"),
            (col("l_suppkey") + 1000000L).as("sp"),
            col("l_quantity").as("w")),
          "p", "sp", "w",
          table(s, dir, "supplier")
            .filter(pmod(col("s_suppkey"), lit(10)) === 0)
            .select((col("s_suppkey") + 1000000L).as("sid")),
          "sid", rounds = 3)
        .orderBy(col("id")),
      Some {
        val rounds = (1 to 3).map { i =>
          s"""d$i AS (SELECT id, MIN(dist) AS dist FROM (
             |  SELECT id, dist FROM d${i - 1} UNION ALL
             |  SELECT ue.v, d${i - 1}.dist + ue.w FROM ue
             |    JOIN d${i - 1} ON d${i - 1}.id = ue.u)
             |  GROUP BY id)""".stripMargin
        }.mkString(",\n")
        s"""WITH ce AS (SELECT l_partkey AS u0,
           |    l_suppkey + 1000000 AS v0,
           |    CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
           |  FROM lineitem WHERE l_orderkey % 4 = 0 GROUP BY 1, 2),
           |ue AS (SELECT u0 AS u, v0 AS v, w FROM ce
           |  UNION ALL SELECT v0, u0, w FROM ce),
           |d0 AS (SELECT DISTINCT s_suppkey + 1000000 AS id,
           |    CAST(0 AS BIGINT) AS dist
           |  FROM supplier WHERE s_suppkey % 10 = 0),
           |$rounds
           |SELECT id, dist FROM d3 ORDER BY id""".stripMargin
      }),

    // Group-aware CV fold assignment (r15): every entity's rows land
    // in ONE fold (md5 of the entity key mod 5 — the leakage-safe
    // split); the gate emits the per-fold row/entity balance a
    // pipeline checks before training. Oracle replays the lane.
    QuerySpec("q291_group_folds",
      (s, dir) => graft.ops.TrainingPrep.groupFolds(
          events(s, dir), "user_id", k = 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_entities"))
        .orderBy(col("fold")),
      Some(s"""WITH f AS (SELECT user_id,
        |    CAST(('0x' || substr(md5('fold:' ||
        |      CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5
        |      AS fold
        |  FROM ($eventsSql))
        |SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_entities
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin)),

    // Hourly OHLC bars (r15): per (user, hour) open/high/low/close in
    // exact centi units + count and volume — ONE keyed aggregate, no
    // window: open/close ride min_by/max_by on the in-bucket
    // composite key (micros-in-bucket · 10⁹ + event_id — the 10⁹
    // stride covers the guarded id domain [0, 1e9); a 10⁶ stride
    // would collide for ids ≥ 1e6, ADVICE r15). Bucket
    // emitted as an ISO string (the q140 timestamp idiom).
    QuerySpec("q292_ohlc_bars",
      (s, dir) => graft.ops.EventAnalytics.ohlcBars(
          events(s, dir), "user_id", "ts", "event_id", "value")
        .select(col("user_id"),
          date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("bucket_s"),
          col("open_centi"), col("high_centi"), col("low_centi"),
          col("close_centi"), col("n_events"), col("vol_centi"))
        .orderBy(col("user_id"), col("bucket_s")),
      Some(s"""WITH e AS (SELECT * FROM ($eventsSql)
        |  WHERE value IS NOT NULL),
        |b AS (SELECT user_id,
        |    date_trunc('hour', ts) AS bt,
        |    (epoch_us(ts) - epoch_us(date_trunc('hour', ts)))
        |      * 1000000000 + event_id AS ord,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM e)
        |SELECT user_id, strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_s,
        |  arg_min(v, ord) AS open_centi, MAX(v) AS high_centi,
        |  MIN(v) AS low_centi, arg_max(v, ord) AS close_centi,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(v) AS BIGINT) AS vol_centi
        |FROM b GROUP BY user_id, bt
        |ORDER BY user_id, bucket_s""".stripMargin)),

    // Smoothed target encoding, category level (r15): the shrunk
    // positive rate per category with the corpus rate as prior —
    // both floors published, so the oracle replays the two-stage
    // integer arithmetic exactly.
    QuerySpec("q293_target_encode",
      (s, dir) => graft.ops.TrainingPrep.targetEncodeStats(
          table(s, dir, "orders")
            .select(col("o_orderpriority"),
              (col("o_orderstatus") === "F").as("y")),
          "o_orderpriority", "y", m = 20)
        .orderBy(col("category")),
      Some("""WITH b AS (SELECT o_orderpriority AS category,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL
        |    AND o_orderstatus IS NOT NULL),
        |g AS (SELECT (1000000 * CAST(SUM(y) AS BIGINT)) //
        |    CAST(COUNT(*) AS BIGINT) AS gm FROM b),
        |st AS (SELECT category, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS n_pos FROM b GROUP BY category)
        |SELECT category, n, n_pos,
        |  CAST((1000000 * n_pos + 20 * g.gm) // (n + 20) AS BIGINT)
        |    AS te_micro
        |FROM st, g ORDER BY category""".stripMargin)),

    // Leave-one-out target encoding, row level (r15): each training
    // row's own label excluded from its category rate — the
    // leakage-free form; singleton categories null.
    QuerySpec("q294_target_encode_loo",
      (s, dir) => graft.ops.TrainingPrep.targetEncodeLoo(
          table(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority"),
              (col("o_orderstatus") === "F").as("y")),
          "o_orderkey", "o_orderpriority", "y")
        .orderBy(col("o_orderkey")),
      Some("""WITH b AS (SELECT o_orderkey, o_orderpriority AS category,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL
        |    AND o_orderstatus IS NOT NULL),
        |st AS (SELECT category, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS np FROM b GROUP BY category)
        |SELECT b.o_orderkey, b.category,
        |  CASE WHEN st.n > 1 THEN
        |    CAST((1000000 * (st.np - b.y)) // (st.n - 1) AS BIGINT)
        |  END AS te_loo_micro
        |FROM b JOIN st ON st.category = b.category
        |ORDER BY b.o_orderkey""".stripMargin)),

    // Null-pattern missingness profile (r15): which columns go
    // missing TOGETHER — one count per observed null bitmask over a
    // deterministically null-planted frame (the fixture controls the
    // nulls, so the oracle replays plant + pattern + counts).
    QuerySpec("q295_null_patterns",
      (s, dir) => graft.ops.Profile.nullPatternProfile(
          table(s, dir, "lineitem").select(
            when(col("l_quantity") <= 5, lit(null))
              .otherwise(col("l_quantity")).as("qty"),
            when(col("l_returnflag") === "N",
              lit(null).cast("string"))
              .otherwise(col("l_returnflag")).as("rf"),
            when(pmod(col("l_linenumber"), lit(3)) === 0, lit(null))
              .otherwise(col("l_linenumber")).as("ln")),
          Seq("qty", "rf", "ln"))
        .orderBy(col("pattern")),
      Some("""WITH p AS (SELECT
        |    CASE WHEN l_quantity <= 5 THEN '1' ELSE '0' END ||
        |    CASE WHEN l_returnflag = 'N' THEN '1' ELSE '0' END ||
        |    CASE WHEN l_linenumber % 3 = 0 THEN '1' ELSE '0' END
        |      AS pattern,
        |    (CASE WHEN l_quantity <= 5 THEN 1 ELSE 0 END +
        |     CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END +
        |     CASE WHEN l_linenumber % 3 = 0 THEN 1 ELSE 0 END)
        |      AS k
        |  FROM lineitem)
        |SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MAX(k) AS INTEGER) AS n_nulls
        |FROM p GROUP BY pattern ORDER BY pattern""".stripMargin)),

    // Time-bounded funnel (r15): view → click → purchase with a
    // 2-hour conversion window per step — the greedy
    // first-qualifying chain, each step one keyed aggregate + one
    // keyed join with the gap bound as a residual filter.
    QuerySpec("q296_funnel_within",
      (s, dir) => graft.ops.EventAnalytics.funnelWithin(
          events(s, dir), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"),
          maxGapMicros = 7200000000L)
        .orderBy(col("user_id")),
      Some(s"""WITH e AS (SELECT user_id, event_type,
        |    epoch_us(ts) AS t FROM ($eventsSql)),
        |v AS (SELECT user_id, MIN(t) AS t_view FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(t) AS t_click FROM e
        |  JOIN v ON v.user_id = e.user_id
        |  WHERE event_type = 'click' AND t > t_view
        |    AND t <= t_view + 7200000000 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(t) AS t_purchase FROM e
        |  JOIN c ON c.user_id = e.user_id
        |  WHERE event_type = 'purchase' AND t > t_click
        |    AND t <= t_click + 7200000000 GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |LEFT JOIN p ON p.user_id = v.user_id
        |ORDER BY v.user_id""".stripMargin)),

    // Isotonic calibration (r15): the monotone fit of q275's bin
    // rates via the exact max-min closed form (≡ PAVA, spec-pinned),
    // rationals compared through the 10¹⁸-scaled integer key, final
    // micros by the nested-floor identity. The span/triple
    // enumerations run over the 10-row bin frame only.
    QuerySpec("q297_isotonic_calibration",
      (s, dir) => graft.ops.Profile.isotonicCalibration(
          table(s, dir, "documents").select(col("n_chars"),
            col("doc_id"), (col("lang") === "en").as("is_en")),
          "n_chars", "doc_id", "is_en", bins = 10)
        .orderBy(col("bin")),
      Some("""WITH x AS (SELECT n_chars, lang = 'en' AS lbl,
        |    NTILE(10) OVER (ORDER BY n_chars * 1000000000 + doc_id)
        |      AS bin
        |  FROM documents WHERE n_chars IS NOT NULL),
        |c AS (SELECT CAST(bin AS BIGINT) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN lbl THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pos
        |  FROM x GROUP BY bin),
        |sp AS (SELECT j.bin AS j, k.bin AS k,
        |    SUM(m.n) AS sn, SUM(m.n_pos) AS spos
        |  FROM c j JOIN c k ON j.bin <= k.bin
        |  JOIN c m ON m.bin BETWEEN j.bin AND k.bin
        |  GROUP BY 1, 2),
        |ky AS (SELECT j, k,
        |    CAST((CAST(1000000000000000000 AS HUGEINT) * spos) // sn
        |      AS BIGINT) AS key
        |  FROM sp),
        |mn AS (SELECT c.bin, ky.j, MIN(ky.key) AS mnk
        |  FROM c JOIN ky ON ky.j <= c.bin AND ky.k >= c.bin
        |  GROUP BY 1, 2),
        |iso AS (SELECT bin, MAX(mnk) AS isok FROM mn GROUP BY bin)
        |SELECT c.bin, c.n, c.n_pos,
        |  (1000000 * c.n_pos) // c.n AS pos_rate_micro,
        |  CAST(iso.isok // 1000000000000 AS BIGINT) AS iso_micro
        |FROM c JOIN iso ON iso.bin = c.bin
        |ORDER BY c.bin""".stripMargin)),

    // Sliding-window distinct (r15): per observed hour, the HLL
    // sufficient statistics of distinct users over the trailing 3 h
    // — each hour's ≤2⁸-row register table explodes to the ≤3
    // windows it feeds and max-merges per window; the md5 lane keeps
    // the integer stats oracle-exact (the q189 discipline).
    QuerySpec("q298_sliding_distinct",
      (s, dir) => graft.ops.Sketches.slidingDistinctStats(
          events(s, dir), "ts", "user_id", windowHours = 3)
        .orderBy(col("window_end_s")),
      Some(s"""WITH e AS (SELECT date_trunc('hour', ts) AS h, user_id
        |  FROM ($eventsSql)
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |hrs AS (SELECT DISTINCT h FROM e),
        |j AS (SELECT hrs.h AS w, e.user_id FROM hrs
        |  JOIN e ON e.h <= hrs.h
        |    AND e.h >= hrs.h - INTERVAL 2 HOUR),
        |b AS (SELECT w,
        |    CAST(('0x' || substr(md5('hll:' ||
        |      CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS bucket,
        |    ltrim(substr(md5('hll:' ||
        |      CAST(user_id AS VARCHAR)), 3, 13), '0') AS t
        |  FROM j),
        |r AS (SELECT w, bucket, CASE WHEN t = '' THEN 53
        |    ELSE 4 * (13 - length(t)) +
        |      CASE WHEN substr(t, 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 1
        |           WHEN substr(t, 1, 1) IN ('4','5','6','7') THEN 2
        |           WHEN substr(t, 1, 1) IN ('2','3') THEN 3
        |           ELSE 4 END END AS rho FROM b),
        |reg AS (SELECT w, bucket, MAX(rho) AS rho_max FROM r
        |  GROUP BY 1, 2)
        |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_end_s,
        |  CAST(COUNT(*) AS INTEGER) AS nd_buckets,
        |  CAST(SUM(CAST(1 AS BIGINT) << (53 - rho_max)) AS BIGINT)
        |    AS nd_s53
        |FROM reg GROUP BY w ORDER BY window_end_s""".stripMargin)),

    // Join fan-out profile (r15): the multiplicity histogram of
    // orders ⋈ lineitem per order key, 0 lane included — the
    // "will this join explode" diagnostic from two keyed counts.
    QuerySpec("q299_join_fanout",
      (s, dir) => graft.ops.Relational.joinFanoutProfile(
          table(s, dir, "orders"), "o_orderkey",
          table(s, dir, "lineitem"), "l_orderkey")
        .orderBy(col("multiplicity")),
      Some("""WITH lk AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_orderkey IS NOT NULL),
        |rc AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS m
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1)
        |SELECT COALESCE(rc.m, 0) AS multiplicity,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys
        |FROM lk LEFT JOIN rc ON rc.k = lk.k
        |GROUP BY 1 ORDER BY multiplicity""".stripMargin)),

    // PPJoin-style prefix-filtered exact Jaccard (r15): SAME output
    // as the q26-style full inverted-index form at the same
    // threshold — the oracle replays the full computation, so the
    // gate pins the prefix filter LOSSLESS — but candidates come
    // only from each document's rarest |X| − ⌈t·|X|⌉ + 1 shingles
    // (integer-exact ceil), the exact-form scale path where a df
    // cap would change scores. Gated at t = 4/5 where the prefix is
    // a FIFTH of each set (at t = 1/2 it is half the set and the
    // filter, while still lossless — spec-pinned at both
    // thresholds — cannot pay for its verification pass on this
    // duplicate-heavy fixture; the spec's ≥3× posting-reduction
    // assertion runs at this same 4/5).
    QuerySpec("q300_prefix_jaccard",
      // r17 fixture diet (VERDICT r16 #1): losslessness is pinned by
      // this oracle at ANY corpus subset (the prefix filter is a
      // theorem, not a tuning); mod-2 quarters the candidate space.
      (s, dir) => graft.ops.Dedup.prefixJaccardPairs(
          table(s, dir, "documents")
            .filter(col("doc_id") % 2 === 0), "doc_id", "text",
          k = 3, tNum = 4, tDen = 5)
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents WHERE doc_id % 2 = 0),
        |sh AS (SELECT DISTINCT doc_id,
        |    UNNEST([array_to_string(toks[i:i+2], ' ')
        |            FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
        |  FROM t WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
        |FROM pairs
        |JOIN sz sa ON sa.doc_id = id_a
        |JOIN sz sb ON sb.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin)),

    // Trailing time-RANGE frame (r15): per event, the entity's
    // value sum/count over the trailing hour — RANGE semantics over
    // the time axis (all equal-ts peers in-frame, no tiebreak needed
    // for associative aggregates), which row frames can't express.
    QuerySpec("q301_range_frame",
      (s, dir) => graft.ops.EventAnalytics.rollingTimeWindow(
          events(s, dir), "user_id", "ts", "event_id", "value",
          windowMicros = 3600000000L)
        .orderBy(col("event_id")),
      Some(s"""WITH e AS (SELECT user_id, event_id,
        |    epoch_us(ts) AS tm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM ($eventsSql)
        |  WHERE value IS NOT NULL AND ts IS NOT NULL)
        |SELECT user_id, event_id,
        |  CAST(SUM(v) OVER w AS BIGINT) AS win_sum_centi,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_in_window
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tm
        |  RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    // Lexical cosine similarity join (r15, re-gated r16): tf-vector
    // cosine ≥ 0.6 over the INFORMATIVE df band (1 < df ≤ 60 — both
    // dot and norms in that subspace; identical docs score 1.0).
    // Integer dot/norms; the round-6 cosine is the only float, over
    // identical integers in both engines. Runs over the [[vocabDocs]]
    // vocabulary-expansion lane so the band is POPULATED at every
    // scale (the r15 gate verified an empty result at sf0.1 — the
    // 31-word base vocabulary saturates any absolute df cap); the
    // planted 4-block pairs land at hand-computable scores, pinned
    // by TermSimilaritySpec.
    QuerySpec("q303_lexical_cosine",
      (s, dir) => graft.ops.MlPrep.lexicalCosinePairs(
          vocabDocs(s, dir), "doc_id", "text",
          threshold = 0.6, maxDf = 60)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $vocabDocsSql,
        |tok AS (SELECT doc_id,
        |    UNNEST(string_split_regex(trim(text), '\\s+')) AS term
        |  FROM vd WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |p AS (SELECT tf.doc_id, tf.term, tf.tf FROM tf
        |  JOIN dfq USING (term) WHERE df > 1 AND df <= 60),
        |n2 AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM p GROUP BY 1),
        |d AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    SUM(a.tf * b.tf) AS dot
        |  FROM p a JOIN p b ON a.term = b.term
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |c AS (SELECT id_a, id_b,
        |    round(CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(na.n2 AS DOUBLE)) *
        |       sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos_sim
        |  FROM d JOIN n2 na ON na.doc_id = d.id_a
        |  JOIN n2 nb ON nb.doc_id = d.id_b)
        |SELECT id_a, id_b, cos_sim FROM c WHERE cos_sim >= 0.6
        |ORDER BY id_a, id_b""".stripMargin)),

    // Weighted (multiset) Jaccard join (r15, re-gated r16): q303's
    // fully-integer sibling — (10⁶·Σmin) div (T_a + T_b − Σmin) over
    // the same df band, no floats anywhere. Same [[vocabDocs]] lane:
    // planted cross-parity pairs land at exactly 666666 micros.
    QuerySpec("q304_weighted_jaccard",
      (s, dir) => graft.ops.MlPrep.weightedJaccardPairs(
          vocabDocs(s, dir), "doc_id", "text",
          thresholdMicro = 400000L, maxDf = 60)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $vocabDocsSql,
        |tok AS (SELECT doc_id,
        |    UNNEST(string_split_regex(trim(text), '\\s+')) AS term
        |  FROM vd WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |p AS (SELECT tf.doc_id, tf.term, tf.tf FROM tf
        |  JOIN dfq USING (term) WHERE df > 1 AND df <= 60),
        |tot AS (SELECT doc_id, SUM(tf) AS t FROM p GROUP BY 1),
        |m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    SUM(LEAST(a.tf, b.tf)) AS mn
        |  FROM p a JOIN p b ON a.term = b.term
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT id_a, id_b,
        |    (1000000 * mn) // (ta.t + tb.t - mn) AS wjacc_micro
        |  FROM m JOIN tot ta ON ta.doc_id = m.id_a
        |  JOIN tot tb ON tb.doc_id = m.id_b)
        |SELECT id_a, id_b, CAST(wjacc_micro AS BIGINT) AS wjacc_micro
        |FROM j WHERE wjacc_micro >= 400000
        |ORDER BY id_a, id_b""".stripMargin)),

    // Kendall τ, TALL form (r16): q246's statistic from the
    // (group, slice, bucket) count-frame plan — no per-bucket
    // columns, so B can follow the corrected B* ∝ √n contract past
    // the column form's ~128-lane codegen bound (KendallScale's
    // tall arms carry the cost curve in SCALE.md). Both axes' bounds
    // come from ONE map-side percentile_approx aggregate, so building
    // the gate runs 6 of its 19 jobs at sf0.1. Same fixture and
    // knobs as q246; the oracle is the brute-force pairwise
    // definition VERBATIM from q246, so the gate pins the grid
    // decomposition ≡ the lane decomposition ≡ the definition.
    QuerySpec("q305_kendall_tall",
      (s, dir) => {
        // r17 fixture diet (VERDICT r16 #1): the oracle handshake
        // (decomposition == the brute-force pairwise definition)
        // holds at any n; the B>>128 cost story lives in
        // KendallScale/SCALE.md. mod-8 keeps ~2.3k rows/group at
        // sf0.1 (was ~30k).
        val o = table(s, dir, "orders")
          .filter(col("o_orderkey") % 8 === 0)
          .select(
          col("o_orderpriority"), col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("x"),
          datediff(col("o_orderdate"), lit("1970-01-01"))
            .cast("long").as("y"))
        graft.ops.Profile.kendallTauExactTall(o, "o_orderpriority",
            "o_orderkey", "x", "y", buckets = 8)
          .orderBy(col("o_orderpriority"))
      },
      Some("""WITH v AS (SELECT o_orderpriority AS g, o_orderkey AS id,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS x,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS y
        |  FROM orders WHERE o_orderkey % 8 = 0),
        |o AS (SELECT g, id, x * 1000000000 + id AS ox,
        |    y * 1000000000 + id AS oy FROM v),
        |d AS (SELECT a.g, CAST(COUNT(*) AS BIGINT) AS dcnt
        |  FROM o a JOIN o b
        |    ON a.g = b.g AND a.ox < b.ox AND a.oy > b.oy
        |  GROUP BY a.g),
        |n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM o
        |  GROUP BY g HAVING COUNT(*) > 1)
        |SELECT n.g AS o_orderpriority, n.n,
        |  CAST(COALESCE(d.dcnt, 0) AS BIGINT) AS d_pairs,
        |  CAST(1000000 - (4000000 * CAST(COALESCE(d.dcnt, 0)
        |      AS HUGEINT)) //
        |    (CAST(n.n AS HUGEINT) * (n.n - 1)) AS BIGINT)
        |    AS tau_micro
        |FROM n LEFT JOIN d ON n.g = d.g
        |ORDER BY o_orderpriority""".stripMargin)),

    // Fuzzy dedup e2e on the PREFIX-FILTERED EXACT path (r16,
    // VERDICT r15 #5): q81's pipeline shape (pairs → connected
    // components → min-id apply) with the pair stage swapped from
    // banded-MinHash estimation to [[graft.ops.Dedup
    // .prefixJaccardPairs]] — the scores-unchanged alternative for
    // composites where exactness matters (decontamination-grade
    // dedup): no maxDf cap, no estimation, candidates bounded by
    // RARE-shingle prefixes instead. The oracle computes the full
    // unfiltered exact-Jaccard pairs (q26's definition) and replays
    // the component/apply tail (q81's), so the gate pins the entire
    // exact composite end to end.
    QuerySpec("q309_dedup_prefix_exact_e2e",
      // r17 fixture diet (VERDICT r16 #1): the composite's plumbing
      // (lossless pairs -> components -> min-id apply) is what this
      // gate pins; q300 + the spec own the losslessness theorem.
      // mod-2 quarters the t=1/2 candidate space (was 6.2 s idle).
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .filter(col("doc_id") % 2 === 0)
        graft.ops.Dedup.dedupByPairs(docs, "doc_id",
            graft.ops.Dedup.prefixJaccardPairs(docs, "doc_id", "text",
              k = 3, tNum = 1, tDen = 2),
            "id_a", "id_b")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE doc_id % 2 = 0),
        |sh AS (SELECT DISTINCT doc_id,
        |    UNNEST([array_to_string(toks[i:i+2], ' ')
        |            FOR i IN generate_series(1, len(toks) - 2)]) AS shingle
        |  FROM t WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    COUNT(*) AS inter
        |  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |good AS (SELECT id_a, id_b FROM pairs
        |  JOIN sz sa ON sa.doc_id = id_a
        |  JOIN sz sb ON sb.doc_id = id_b
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
        |WHERE doc_id % 2 = 0
        |  AND doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
        |ORDER BY doc_id""".stripMargin)),

    // ROUGE-2 pair eval (r16, Lin 2004): clipped bigram overlap +
    // integer-micro precision/recall/F1 over (candidate, reference)
    // pairs — adjacent documents (doc_id, doc_id+1) as the
    // deterministic pair fixture (the templated corpus gives real
    // partial overlaps, not all-0/all-10⁶). F1 collapses to
    // 2o/(nc+nr): no floats anywhere. One side-tagged explode +
    // two pair-keyed combinable aggregations.
    QuerySpec("q311_rouge2_pairs",
      (s, dir) => {
        val d = table(s, dir, "documents")
          .filter(col("text").isNotNull)
        val pairs = d.select(col("doc_id"), col("text").as("cand"))
          .join(d.select((col("doc_id") - 1).as("doc_id"),
            col("text").as("ref")), Seq("doc_id"))
        graft.ops.TextAnalysis.rougeN(pairs, "doc_id", "cand", "ref",
            n = 2)
          .orderBy(col("doc_id"))
      },
      Some("""WITH p AS (SELECT a.doc_id,
        |    string_split_regex(trim(a.text), '\s+') AS ct,
        |    string_split_regex(trim(b.text), '\s+') AS rt
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.text IS NOT NULL AND b.text IS NOT NULL),
        |cg AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cc
        |  FROM (SELECT doc_id, UNNEST([array_to_string(ct[i:i+1], ' ')
        |      FOR i IN generate_series(1, len(ct) - 1)]) AS g
        |    FROM p WHERE len(ct) >= 2) GROUP BY 1, 2),
        |rg AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cr
        |  FROM (SELECT doc_id, UNNEST([array_to_string(rt[i:i+1], ' ')
        |      FOR i IN generate_series(1, len(rt) - 1)]) AS g
        |    FROM p WHERE len(rt) >= 2) GROUP BY 1, 2),
        |ov AS (SELECT doc_id, CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS o
        |  FROM cg JOIN rg USING (doc_id, g) GROUP BY 1),
        |tot AS (SELECT doc_id,
        |    CAST(CASE WHEN len(ct) >= 2 THEN len(ct) - 1 ELSE 0 END
        |      AS BIGINT) AS nc,
        |    CAST(CASE WHEN len(rt) >= 2 THEN len(rt) - 1 ELSE 0 END
        |      AS BIGINT) AS nr
        |  FROM p)
        |SELECT tot.doc_id AS doc_id, nc AS n_cand_grams,
        |  nr AS n_ref_grams,
        |  COALESCE(o, 0) AS n_overlap,
        |  CAST(CASE WHEN nc > 0
        |    THEN (1000000 * COALESCE(o, 0)) // nc ELSE 0 END
        |    AS BIGINT) AS precision_micro,
        |  CAST(CASE WHEN nr > 0
        |    THEN (1000000 * COALESCE(o, 0)) // nr ELSE 0 END
        |    AS BIGINT) AS recall_micro,
        |  CAST(CASE WHEN nc + nr > 0
        |    THEN (2000000 * COALESCE(o, 0)) // (nc + nr) ELSE 0 END
        |    AS BIGINT) AS f1_micro
        |FROM tot LEFT JOIN ov ON ov.doc_id = tot.doc_id
        |ORDER BY tot.doc_id""".stripMargin)),

    // Distinct-2 diversity per source (r16, Li et al. 2016): the
    // mode-collapse detector — distinct bigrams over total bigrams
    // as an exact integer micro, per corpus slice. Exact distinct
    // via the two-level (group, gram) spectrum, no countDistinct
    // expand.
    QuerySpec("q312_distinct_ngram",
      (s, dir) => graft.ops.TextAnalysis.distinctNGramDiversity(
          table(s, dir, "documents"), Seq("source"), "text", n = 2)
        .orderBy(col("source").asc_nulls_last),
      Some("""WITH t AS (SELECT source,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT source, UNNEST([array_to_string(toks[i:i+1], ' ')
        |    FOR i IN generate_series(1, len(toks) - 1)]) AS gram
        |  FROM t WHERE len(toks) >= 2),
        |c AS (SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM g GROUP BY 1, 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(cnt) AS BIGINT) AS n_total,
        |  CAST((1000000 * COUNT(*)) // SUM(cnt) AS BIGINT)
        |    AS distinct_micro
        |FROM c GROUP BY source ORDER BY source NULLS LAST"""
        .stripMargin)),

    // k-anonymity profile (r16, Sweeney 2002): the equivalence-
    // class-size histogram over (nation, market segment) as the
    // quasi-identifier pair — the governance gate for user-derived
    // training columns; classes smaller than k=10 flag.
    QuerySpec("q313_k_anonymity",
      (s, dir) => graft.ops.Profile.kAnonymityProfile(
          table(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 10L)
        .orderBy(col("class_size")),
      Some("""WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM customer GROUP BY 1, 2)
        |SELECT sz AS class_size, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(sz * COUNT(*) AS BIGINT) AS n_rows,
        |  sz < 10 AS violates_k
        |FROM cls GROUP BY sz ORDER BY class_size""".stripMargin)),

    // k-anonymity suppression (r16): the apply step — the release
    // filter keeps exactly the rows whose (nation, segment) class
    // has ≥ k members. Semi-join shape, not a class-count window
    // (a hot class would land in one un-splittable task).
    QuerySpec("q315_k_anonymity_suppress",
      (s, dir) => graft.ops.Profile.kAnonymitySuppress(
          table(s, dir, "customer").select(col("c_custkey"),
            col("c_nationkey"), col("c_mktsegment")),
          Seq("c_nationkey", "c_mktsegment"), k = 10L)
        .orderBy(col("c_custkey")),
      Some("""WITH safe AS (SELECT c_nationkey, c_mktsegment
        |  FROM customer GROUP BY 1, 2 HAVING COUNT(*) >= 10)
        |SELECT c_custkey, c.c_nationkey, c.c_mktsegment
        |FROM customer c JOIN safe s
        |  ON s.c_nationkey = c.c_nationkey
        | AND s.c_mktsegment = c.c_mktsegment
        |ORDER BY c_custkey""".stripMargin)),

    // l-diversity profile (r16, Machanavajjhala et al. 2007):
    // k-anonymity's complement — per (customer-bucket, priority)
    // equivalence class (fine enough that the status histogram is
    // non-degenerate: classes land at 1, 2 AND 3 distinct statuses),
    // the distinct order-status histogram; classes with < 3 distinct
    // sensitive values flag even when they are k-large.
    QuerySpec("q314_l_diversity",
      (s, dir) => graft.ops.Profile.lDiversityProfile(
          table(s, dir, "orders").select(
            expr("o_custkey div 10").as("cust_bucket"),
            col("o_orderpriority"), col("o_orderstatus")),
          Seq("cust_bucket", "o_orderpriority"), "o_orderstatus",
          l = 3L)
        .orderBy(col("n_sensitive")),
      Some("""WITH c AS (SELECT o_custkey // 10 AS cust_bucket,
        |    o_orderpriority, o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM orders
        |  GROUP BY 1, 2, 3),
        |d AS (SELECT cust_bucket, o_orderpriority,
        |    CAST(COUNT(CASE WHEN o_orderstatus IS NOT NULL THEN 1 END)
        |      AS BIGINT) AS nd,
        |    CAST(SUM(cnt) AS BIGINT) AS rws
        |  FROM c GROUP BY 1, 2)
        |SELECT nd AS n_sensitive, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(rws) AS BIGINT) AS n_rows, nd < 3 AS violates_l
        |FROM d GROUP BY nd ORDER BY n_sensitive""".stripMargin)),

    // Average Precision @ 10 (r16): the ranking-eval member q284
    // doesn't carry — exact through the LCM(1..10) = 2520 common
    // denominator (P@i = h_i/i and i | 2520, so Σ h_i·(2520/i) is
    // pure integer arithmetic). Same fixture, same judgments.
    QuerySpec("q322_average_precision",
      (s, dir) => {
        val fx = rankingFixture(s, dir)
        graft.ops.Profile.averagePrecisionAtK(
            fx.select(col("lang"), col("doc_id"), col("rank")),
            fx.select(col("lang"), col("doc_id"), col("rel")),
            "lang", "doc_id", "rank", "rel", k = 10)
          .orderBy(col("lang"))
      },
      Some(s"""WITH $rankingFixtureSql,
        |j AS (SELECT lang, rnk,
        |    CASE WHEN rel > 0 THEN 1 ELSE 0 END AS rv
        |  FROM r WHERE rnk <= 10),
        |h AS (SELECT lang, rnk, rv,
        |    SUM(rv) OVER (PARTITION BY lang ORDER BY rnk) AS hh
        |  FROM j),
        |num AS (SELECT lang, SUM(hh * (2520 // rnk)) AS num
        |  FROM h WHERE rv = 1 GROUP BY lang),
        |nr AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rel
        |  FROM r WHERE rel > 0 GROUP BY lang)
        |SELECT nr.lang, nr.n_rel,
        |  CAST(COALESCE((1000000 * num.num) //
        |    (2520 * LEAST(nr.n_rel, 10)), 0) AS BIGINT) AS ap_micro
        |FROM nr LEFT JOIN num ON num.lang = nr.lang
        |ORDER BY nr.lang""".stripMargin)),

    // PCA scatter (r16): the exact n²-scaled centered scatter
    // M = n·G − s·sᵀ over the micro-quantized embeddings — the
    // sufficient statistic for PCA with NO division anywhere; PSD,
    // shares eigenvectors with the covariance. One scan, (i,j)-keyed
    // combinable aggregate (≤ d² groups), upper triangle.
    QuerySpec("q318_pca_scatter",
      // r17 fixture diet (VERDICT r16 #1): the one-scan d(d+1)/2
      // combinable-agg shape is scale-proven in SCALE.md; the gate
      // needs only the oracle handshake. mod-4 rows, same 64 dims.
      (s, dir) => graft.ops.Similarity.pcaScatterMicro(
          table(s, dir, "embeddings")
            .filter(col("vec_id") % 4 === 0), "embedding", dims = 64)
        .select(col("i"), col("j"),
          col("m_scatter").cast("long").as("m_scatter"))
        .orderBy(col("i"), col("j")),
      Some("""WITH xm AS (SELECT
        |    [CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        |      FOR x IN embedding] AS v
        |  FROM embeddings
        |  WHERE vec_id % 4 = 0
        |    AND embedding IS NOT NULL AND len(embedding) = 64),
        |g AS (SELECT a.ai - 1 AS i, b.bj - 1 AS j,
        |    SUM(CAST(v[a.ai] AS HUGEINT) * v[b.bj]) AS gij
        |  FROM xm, generate_series(1, 64) a(ai),
        |    generate_series(1, 64) b(bj)
        |  WHERE b.bj >= a.ai GROUP BY 1, 2),
        |s AS (SELECT i - 1 AS dim, SUM(CAST(v[i] AS HUGEINT)) AS s,
        |    CAST(COUNT(*) AS HUGEINT) AS n
        |  FROM xm, generate_series(1, 64) g(i) GROUP BY 1)
        |SELECT g.i, g.j,
        |  CAST(sa.n * g.gij - sa.s * sb.s AS BIGINT) AS m_scatter
        |FROM g JOIN s sa ON sa.dim = g.i JOIN s sb ON sb.dim = g.j
        |ORDER BY g.i, g.j""".stripMargin)),

    // Top principal direction (r16): exact integer L∞-normalized
    // power iteration on the scatter — a FIXED deterministic
    // procedure (8 iterations, trunc-toward-zero renorm), so the
    // oracle replays it verbatim as 8 unrolled CTEs (the q72
    // unrolled-Lloyd move). Train-in-query; q320 is the persisted
    // steady twin (standing rule 1).
    QuerySpec("q319_pca_direction",
      (s, dir) => graft.ops.Similarity.principalDirectionMicro(
          graft.ops.Similarity.pcaScatterMicro(
            table(s, dir, "embeddings")
              .filter(col("vec_id") % 4 === 0), "embedding", dims = 64),
          dims = 64, iters = 8)
        .orderBy(col("dim")),
      Some(s"""WITH ${pcaChainSql(8)}
        |SELECT dim, CAST(v AS BIGINT) AS v_micro FROM v8
        |ORDER BY dim""".stripMargin)),

    // PCA projection from the PERSISTED direction (r16, standing
    // rule 1 — q319's steady twin): the nightly path pays one
    // zip_with/aggregate expression per row against the frozen
    // direction literal (zero shuffle, scan speed); the oracle
    // re-derives the direction through the same 8-iteration chain
    // and projects. Exact integer scores.
    QuerySpec("q320_pca_project",
      (s, dir) => {
        val root = pcaDirectionRoot(s, dir)
        graft.ops.Similarity.pcaProjectMicro(
            table(s, dir, "embeddings")
              .filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
            s.read.parquet(s"$root/direction"), dims = 64)
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH ${pcaChainSql(8)},
        |pe AS (SELECT vec_id, i - 1 AS dim,
        |    CAST(v[i] AS HUGEINT) AS x
        |  FROM xm, generate_series(1, 64) g(i))
        |SELECT pe.vec_id,
        |  CAST(SUM(pe.x * vt.v) AS BIGINT) AS score
        |FROM pe JOIN v8 vt ON vt.dim = pe.dim
        |GROUP BY pe.vec_id ORDER BY pe.vec_id""".stripMargin)),

    // Language identification (r17, VERDICT r16 missing #3): hashed
    // character-trigram naive Bayes — Cavnar & Trenkle 1994 profiles
    // in the fastText hashed-feature form, exact-integer micro-nat
    // scores via the q116/q117 floor-per-row ln rule. Train on the
    // labeled src1 slice, predict the src2 mod-2 probe lane; the
    // oracle replays gram explode, md5 bucket, Laplace-smoothed
    // dense model, per-(doc,lang) sum and the (score DESC, lang ASC)
    // argmax verbatim. LangIdSpec pins 100% separation on a planted
    // two-language fixture (this corpus shares one vocabulary across
    // lang labels, so the GATE pins arithmetic, not accuracy).
    QuerySpec("q328_langid",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        graft.ops.TextAnalysis.langIdPredict(
            docs.filter(col("source") === "src1"), "lang",
            langIdProbe(docs), "doc_id", "text",
            k = 3, buckets = 1024)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $langIdModelSql,
        |$langIdScoreSql
        |SELECT doc_id, lang AS pred_lang, score_micro, n_grams
        |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // Steady-state langid (r17, standing rule 1 — q328's persisted
    // twin): the model frame (5 langs x 1024 buckets, a few KB) is
    // trained once, persisted, and broadcast into the scoring run;
    // per-batch cost is one gram explode + one keyed combinable sum.
    // Oracle = q328's verbatim (same model arithmetic, same probe).
    QuerySpec("q329_langid_steady",
      (s, dir) => {
        val root = langIdModelRoot(s, dir)
        graft.ops.TextAnalysis.langIdPredictWith(
            s.read.parquet(s"$root/model"),
            langIdProbe(table(s, dir, "documents")), "doc_id", "text",
            k = 3, buckets = 1024)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $langIdModelSql,
        |$langIdScoreSql
        |SELECT doc_id, lang AS pred_lang, score_micro, n_grams
        |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // Langid wing into the quality-filter composites (r17, the
    // q113/q114 pattern): the first gate of every web-corpus
    // pipeline — keep the probe docs predicted `en` that also pass
    // a minimum-length quality rule, emitting the reason-tagged
    // verdict for BOTH arms (a dashboard needs the rejects too).
    QuerySpec("q330_langid_quality_filter",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val pred = graft.ops.TextAnalysis.langIdPredict(
          docs.filter(col("source") === "src1"), "lang",
          langIdProbe(docs), "doc_id", "text", k = 3, buckets = 1024)
        langIdProbe(docs)
          .select(col("doc_id"),
            size(split(trim(col("text")), "\\s+")).cast("long")
              .as("n_tokens"))
          .join(pred, Seq("doc_id"))
          .select(col("doc_id"), col("pred_lang"), col("n_tokens"),
            (col("pred_lang") === "en" && col("n_tokens") >= 20)
              .as("kept"),
            when(col("pred_lang") =!= "en", "lang")
              .when(col("n_tokens") < 20, "short")
              .otherwise("ok").as("reason"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $langIdModelSql,
        |$langIdScoreSql,
        |pred AS (SELECT doc_id, lang AS pred_lang
        |  FROM ranked WHERE rk = 1),
        |nt AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\\s+'))
        |      AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE source = 'src2' AND doc_id % 2 = 0
        |    AND text IS NOT NULL)
        |SELECT nt.doc_id, pred.pred_lang, nt.n_tokens,
        |  pred.pred_lang = 'en' AND nt.n_tokens >= 20 AS kept,
        |  CASE WHEN pred.pred_lang <> 'en' THEN 'lang'
        |       WHEN nt.n_tokens < 20 THEN 'short'
        |       ELSE 'ok' END AS reason
        |FROM nt JOIN pred USING (doc_id) ORDER BY nt.doc_id""".stripMargin)),

    // Multi-component PCA (r17, VERDICT r16 missing #4): k = 2
    // directions by exact-integer Hotelling deflation over the
    // collected scatter — ONE fixed procedure (power chain, Rayleigh
    // t1 = vMv // vv, per-entry trunc deflation) the oracle replays
    // as unrolled MATERIALIZED CTEs. PcaSpec pins orthogonality
    // within the quantization bound and component-0 ≡ q319.
    QuerySpec("q331_pca_components",
      (s, dir) => graft.ops.Similarity.principalComponentsMicro(
          graft.ops.Similarity.pcaScatterMicro(
            table(s, dir, "embeddings")
              .filter(col("vec_id") % 4 === 0), "embedding", dims = 64),
          dims = 64, iters = 8, k = 2)
        .orderBy(col("component"), col("dim")),
      Some(s"""WITH ${pcaComponentsChainSql(8, 2)}
        |SELECT component, dim, CAST(v AS BIGINT) AS v_micro
        |FROM comps ORDER BY component, dim""".stripMargin)),

    // k-coordinate projection from the PERSISTED components (r17,
    // standing rule 1 — q331's steady twin): k zip_with/aggregate
    // literal expressions per row, zero shuffle; the oracle
    // re-derives both directions through the deflation chain and
    // projects. The reduced row is what the ANN family consumes.
    QuerySpec("q332_pca_project_k",
      (s, dir) => {
        val root = pcaComponentsRoot(s, dir)
        graft.ops.Similarity.pcaProjectKMicro(
            table(s, dir, "embeddings")
              .filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
            s.read.parquet(s"$root/components"), dims = 64)
          .orderBy(col("vec_id"), col("component"))
      },
      Some(s"""WITH ${pcaComponentsChainSql(8, 2)},
        |pe AS (SELECT vec_id, i - 1 AS dim,
        |    CAST(v[i] AS HUGEINT) AS x
        |  FROM xm, generate_series(1, 64) g(i))
        |SELECT pe.vec_id, c.component,
        |  CAST(SUM(pe.x * c.v) AS BIGINT) AS score
        |FROM pe JOIN comps c ON c.dim = pe.dim
        |GROUP BY 1, 2 ORDER BY vec_id, component""".stripMargin)),

    // PCA-reduced sign-cell ANN (r17 — the chained gate VERDICT r16
    // missing #4 asked for): the 2 reduced coordinates bucket the
    // lane into 4 sign cells (a codebook-free IVF); each mod-40
    // probe searches only its own cell, ranked by exact integer
    // squared L2 in the reduced space, top-3 with the (d2, id)
    // total order. Candidates are cell-bucketed — never all-pairs.
    QuerySpec("q333_pca_cell_ann",
      (s, dir) => {
        val root = pcaComponentsRoot(s, dir)
        val proj = graft.ops.Similarity.pcaProjectKMicro(
          table(s, dir, "embeddings")
            .filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
          s.read.parquet(s"$root/components"), dims = 64)
        graft.ops.Similarity.pcaCellNeighbors(proj, "vec_id",
            col("vec_id") % 40 === 0, topK = 3)
          .orderBy(col("query_id"), col("rk"))
      },
      Some(s"""WITH ${pcaComponentsChainSql(8, 2)},
        |pe AS (SELECT vec_id, i - 1 AS dim,
        |    CAST(v[i] AS HUGEINT) AS x
        |  FROM xm, generate_series(1, 64) g(i)),
        |sc AS MATERIALIZED (SELECT pe.vec_id, c.component,
        |    CAST(SUM(pe.x * c.v) AS HUGEINT) AS s
        |  FROM pe JOIN comps c ON c.dim = pe.dim GROUP BY 1, 2),
        |cells AS MATERIALIZED (SELECT vec_id,
        |    CAST(SUM(CASE WHEN s >= 0
        |      THEN CAST(1 AS BIGINT) << component
        |      ELSE 0 END) AS BIGINT) AS cell
        |  FROM sc GROUP BY 1),
        |cand AS (SELECT p.vec_id AS q, o.vec_id AS n
        |  FROM cells p JOIN cells o ON o.cell = p.cell
        |    AND o.vec_id <> p.vec_id
        |  WHERE p.vec_id % 40 = 0),
        |d2 AS (SELECT cand.q, cand.n,
        |    SUM((sa.s - sb.s) * (sa.s - sb.s)) AS d2
        |  FROM cand JOIN sc sa ON sa.vec_id = cand.q
        |  JOIN sc sb ON sb.vec_id = cand.n
        |    AND sb.component = sa.component
        |  GROUP BY 1, 2),
        |rk AS (SELECT q, n, d2, ROW_NUMBER() OVER (PARTITION BY q
        |    ORDER BY d2 ASC, n ASC) AS rk FROM d2)
        |SELECT rk.q AS query_id, CAST(rk.rk AS INTEGER) AS rk,
        |  rk.n AS neighbor_id, cells.cell
        |FROM rk JOIN cells ON cells.vec_id = rk.q
        |WHERE rk.rk <= 3 ORDER BY query_id, rk""".stripMargin)),

    // t-closeness (r17, VERDICT r16 missing #6): the governance
    // triad's third member beside q313 (k-anonymity) and q314
    // (l-diversity) — per (cust_bucket, o_orderpriority) class, the
    // categorical EMD (= total-variation distance) of the class's
    // o_orderstatus distribution vs the corpus distribution, exact
    // integer over the n_E·N common denominator; violates_t is the
    // division-free cross-multiplied comparison at t = 0.2.
    QuerySpec("q334_t_closeness",
      (s, dir) => graft.ops.Profile.tClosenessProfile(
          table(s, dir, "orders")
            .filter(col("o_custkey") % 16 === 0)
            .select(expr("o_custkey div 10").as("cust_bucket"),
              col("o_orderpriority"), col("o_orderstatus")),
          Seq("cust_bucket", "o_orderpriority"), "o_orderstatus",
          tMicro = 200000L)
        .orderBy(col("cust_bucket"), col("o_orderpriority")),
      Some("""WITH src AS (SELECT o_custkey // 10 AS cust_bucket,
        |    o_orderpriority, o_orderstatus FROM orders
        |  WHERE o_custkey % 16 = 0),
        |cv AS (SELECT cust_bucket, o_orderpriority, o_orderstatus AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM src GROUP BY 1, 2, 3),
        |corpus AS (SELECT o_orderstatus AS v,
        |    CAST(COUNT(*) AS BIGINT) AS cvn FROM src GROUP BY 1),
        |ne AS (SELECT cust_bucket, o_orderpriority,
        |    CAST(SUM(c) AS BIGINT) AS n FROM cv GROUP BY 1, 2),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM src),
        |grid AS (SELECT ne.cust_bucket, ne.o_orderpriority, ne.n,
        |    corpus.v, corpus.cvn, COALESCE(cv.c, 0) AS c, tot.nn
        |  FROM ne CROSS JOIN corpus CROSS JOIN tot
        |  LEFT JOIN cv ON cv.cust_bucket = ne.cust_bucket
        |    AND cv.o_orderpriority = ne.o_orderpriority
        |    AND cv.v IS NOT DISTINCT FROM corpus.v),
        |agg AS (SELECT cust_bucket, o_orderpriority, n AS n_rows,
        |    CAST(SUM(ABS(CAST(c AS HUGEINT) * nn
        |      - CAST(cvn AS HUGEINT) * n)) AS HUGEINT) AS tvd_num,
        |    MAX(nn) AS nn
        |  FROM grid GROUP BY 1, 2, 3)
        |SELECT cust_bucket, o_orderpriority, n_rows,
        |  CAST(tvd_num AS BIGINT) AS tvd_num,
        |  CAST((1000000 * tvd_num) //
        |    (2 * CAST(n_rows AS HUGEINT) * nn) AS BIGINT) AS t_micro,
        |  1000000 * tvd_num >
        |    200000 * 2 * CAST(n_rows AS HUGEINT) * nn AS violates_t
        |FROM agg
        |ORDER BY cust_bucket, o_orderpriority""".stripMargin)))

  /** The src2 mod-2 probe lane shared by the three langid gates. */
  private def langIdProbe(docs: DataFrame): DataFrame =
    docs.filter(col("source") === "src2" && col("doc_id") % 2 === 0)

  /** The dense Laplace-smoothed trigram model over the src1 training
    * slice — DuckDB mirror of [[graft.ops.TextAnalysis.langIdModel]]
    * at k = 3, B = 1024 (shared by q328/q329/q330). */
  private def langIdModelSql: String =
    """tr AS (SELECT lang, trim(text) AS t FROM documents
      |  WHERE source = 'src1' AND text IS NOT NULL
      |    AND lang IS NOT NULL AND len(trim(text)) >= 3),
      |tg0 AS (SELECT lang, t,
      |    UNNEST(generate_series(1, len(t) - 2)) AS i FROM tr),
      |tg AS (SELECT lang,
      |    CAST(('0x' || substr(md5('lg:' || substr(t, i, 3)), 1, 15))
      |      AS BIGINT) % 1024 AS b
      |  FROM tg0),
      |tb AS (SELECT lang, b, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM tg GROUP BY 1, 2),
      |nl AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM tb
      |  GROUP BY 1),
      |dense AS (SELECT nl.lang, gb.b,
      |    CAST(floor(ln((COALESCE(tb.c, 0) + 1.0) / (nl.n + 1024))
      |      * 1e6) AS BIGINT) AS lp
      |  FROM nl CROSS JOIN generate_series(0, 1023) gb(b)
      |  LEFT JOIN tb ON tb.lang = nl.lang AND tb.b = gb.b)""".stripMargin

  /** Probe-side gram scoring + ranked argmax (shared tail). */
  private def langIdScoreSql: String =
    """probe AS (SELECT doc_id, trim(text) AS t FROM documents
      |  WHERE source = 'src2' AND doc_id % 2 = 0
      |    AND text IS NOT NULL AND len(trim(text)) >= 3),
      |pg0 AS (SELECT doc_id, t,
      |    UNNEST(generate_series(1, len(t) - 2)) AS i FROM probe),
      |pg AS (SELECT doc_id,
      |    CAST(('0x' || substr(md5('lg:' || substr(t, i, 3)), 1, 15))
      |      AS BIGINT) % 1024 AS b
      |  FROM pg0),
      |sc AS (SELECT pg.doc_id, dense.lang,
      |    CAST(SUM(dense.lp) AS BIGINT) AS score_micro,
      |    CAST(COUNT(*) AS BIGINT) AS n_grams
      |  FROM pg JOIN dense USING (b) GROUP BY 1, 2),
      |ranked AS (SELECT doc_id, lang, score_micro, n_grams,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY score_micro DESC, lang ASC) AS rk
      |  FROM sc)""".stripMargin

  /** Build-once persisted k = 2 PCA components (the q320 pattern
    * widened): scatter + deflation chain once, probes pay only the
    * literal-array projections. */
  private def pcaComponentsRoot(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9.]+", "_")
    val fp = FixtureCache.fingerprint(s"$dir/embeddings.parquet")
    FixtureCache.ensure(
        s"/tmp/graft_pca_components/${tag}_${fp}_m4") { tmp =>
      graft.ops.Similarity.principalComponentsMicro(
          graft.ops.Similarity.pcaScatterMicro(
            table(s, dir, "embeddings")
              .filter(col("vec_id") % 4 === 0), "embedding", dims = 64),
          dims = 64, iters = 8, k = 2)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/components")
    }
  }

  /** Build-once persisted langid model (the q118/q320 frozen-model
    * pattern): train on src1 once, then every probe pays only the
    * broadcast join. */
  private def langIdModelRoot(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9.]+", "_")
    val fp = FixtureCache.fingerprint(s"$dir/documents.parquet")
    FixtureCache.ensure(s"/tmp/graft_langid_model/${tag}_$fp") { tmp =>
      graft.ops.TextAnalysis.langIdModel(
          table(s, dir, "documents").filter(col("source") === "src1"),
          "lang", "text", k = 3, buckets = 1024)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/model")
    }
  }

  /** Build-once persisted principal direction (the q118 frozen-model
    * pattern): scatter + 8 power iterations once, then every probe
    * pays only the projection expression. */
  private def pcaDirectionRoot(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9.]+", "_")
    val fp = FixtureCache.fingerprint(s"$dir/embeddings.parquet")
    FixtureCache.ensure(s"/tmp/graft_pca_direction/${tag}_${fp}_m4") { tmp =>
      graft.ops.Similarity.principalDirectionMicro(
          graft.ops.Similarity.pcaScatterMicro(
            table(s, dir, "embeddings")
              .filter(col("vec_id") % 4 === 0), "embedding", dims = 64),
          dims = 64, iters = 8)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/direction")
    }
  }

  // Fixture-root prewarm registration (VERDICT r16 wrong #2): Bench
  // builds every /tmp root before its timed loop so no gate's counted
  // window ever contains a one-time fixture build.
  locally {
    Seq[(org.apache.spark.sql.SparkSession, String) => String](
      pcaDirectionRoot _, langIdModelRoot _, pcaComponentsRoot _)
      .foreach(f => FixtureCache.registerPrewarm((s, d) => { f(s, d); () }))
  }
}
