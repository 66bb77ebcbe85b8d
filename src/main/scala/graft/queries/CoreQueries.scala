package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.parsers
import graft.ops.{Relational, Temporal}
import QuerySpec.table

/** Core operator queries (SURVEY.md §2.2-§2.5) over the driver testdata.
  *
  * Numeric discipline for oracle-exactness: every aggregate over a
  * double money column goes through decimal(18,2) (exact, associative,
  * order-independent) and is surfaced as double — Spark and DuckDB then
  * agree bit-for-bit regardless of partitioning/summation order.
  */
object CoreQueries {

  /** Shared derived SCD2 view: lineitem rows as versions of an order
    * entity (SURVEY.md §7.2 — the testdata has no native temporal
    * tables, so the temporal operators are exercised on this view;
    * the oracle SQL derives the identical view). */
  def lineitemVersioned(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem").select(
      col("l_orderkey").cast("string").as("identificatie"),
      col("l_linenumber").as("volgnummer"),
      col("l_shipdate").as("begin_geldigheid"),
      when(col("l_linestatus") === "O", lit(null).cast("timestamp"))
        .otherwise(col("l_shipdate") + expr("INTERVAL 30 DAYS"))
        .as("eind_geldigheid"),
      col("l_quantity"))

  private val versionedSql =
    """SELECT CAST(l_orderkey AS VARCHAR) AS identificatie,
      |       l_linenumber AS volgnummer,
      |       l_shipdate AS begin_geldigheid,
      |       CASE WHEN l_linestatus = 'O' THEN NULL
      |            ELSE l_shipdate + INTERVAL 30 DAY END AS eind_geldigheid,
      |       l_quantity
      |FROM lineitem""".stripMargin

  import parsers.{dec2, sumMoney, avgMoney}

  val all: Seq[QuerySpec] = Seq(

    // A1-shape grouped aggregation — TPC-H Q1 pricing summary.
    QuerySpec("q01_pricing_summary",
      (s, dir) => table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))
            * (lit(1) + dec2(col("l_tax")))).cast("double").as("sum_charge"),
          avgMoney(col("l_quantity")).as("avg_qty"),
          avgMoney(col("l_extendedprice")).as("avg_price"),
          avgMoney(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A1 duplicate-open-version audit (bagh/batch.py:242-254).
    QuerySpec("q02_dup_open_versions",
      (s, dir) => Temporal.duplicateOpenVersions(lineitemVersioned(s, dir))
        .orderBy(col("identificatie")),
      Some(s"""WITH v AS ($versionedSql)
        |SELECT identificatie, COUNT(*) AS n_open
        |FROM v WHERE eind_geldigheid IS NULL
        |GROUP BY identificatie HAVING COUNT(*) > 1
        |ORDER BY identificatie""".stripMargin)),

    // §2.5 current-version window operator.
    QuerySpec("q03_current_version",
      // The synthetic lineitem has duplicate (orderkey, linenumber)
      // pairs, so the version order needs explicit tiebreakers to be a
      // total order (else Spark and the oracle pick different winners).
      (s, dir) => Temporal.currentVersion(lineitemVersioned(s, dir),
          tiebreak = Seq(col("begin_geldigheid").desc, col("l_quantity").desc))
        .select(col("identificatie"), col("volgnummer"),
          col("begin_geldigheid"), col("l_quantity"))
        .orderBy(col("identificatie")),
      Some(s"""WITH v AS ($versionedSql)
        |SELECT identificatie, volgnummer, begin_geldigheid, l_quantity
        |FROM (SELECT v.*, ROW_NUMBER() OVER (PARTITION BY identificatie
        |        ORDER BY volgnummer DESC, begin_geldigheid DESC, l_quantity DESC) AS rn FROM v)
        |WHERE rn = 1 ORDER BY identificatie""".stripMargin)),

    // J1 FK-existence semi-join (null fk passes).
    QuerySpec("q04_semijoin_fk",
      (s, dir) => Relational.semiJoinFk(
          table(s, dir, "orders"), "o_custkey",
          table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING"),
          "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o.o_custkey IS NULL OR EXISTS (
        |  SELECT 1 FROM customer c
        |  WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // J1-dual dead-letter: FK violations via left-anti join.
    QuerySpec("q05_fk_violations",
      (s, dir) => Relational.fkViolations(
          table(s, dir, "orders"), "o_custkey",
          table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING"),
          "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_custkey FROM orders o
        |WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
        |  SELECT 1 FROM customer c
        |  WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // J2 deleted-row audit count (history must never shrink).
    QuerySpec("q06_deleted_audit",
      (s, dir) => {
        val live = table(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val staged = table(s, dir, "orders")
          .filter(col("o_orderkey") % 7 =!= 3)
        Temporal.detectDeleted(live, staged, "o_orderkey")
          .agg(count(lit(1)).as("n_deleted"))
      },
      Some("""SELECT COUNT(*) AS n_deleted FROM orders e
        |WHERE e.o_orderdate < TIMESTAMP '1997-01-01' AND NOT EXISTS (
        |  SELECT 1 FROM orders t
        |  WHERE t.o_orderkey % 7 <> 3 AND t.o_orderkey = e.o_orderkey)""".stripMargin)),

    // J2+J3+J4 SCD2 merge-as-rewrite (bagh/batch.py:98-131).
    QuerySpec("q07_merge_scd2",
      (s, dir) => {
        val orders = table(s, dir, "orders")
        val live = orders
          .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate"))
        val staged = orders
          .filter(col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_orderstatus"),
            when(col("o_orderstatus") === "O",
              (dec2(col("o_totalprice")) * lit(BigDecimal("1.1"))).cast("double"))
              .otherwise(col("o_totalprice")).as("o_totalprice"),
            col("o_orderdate"))
        Temporal.mergeScd2(live, staged, "o_orderkey")
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH live AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
        |staged AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderstatus = 'O'
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01')
        |SELECT * FROM staged
        |UNION ALL
        |SELECT e.* FROM live e
        |WHERE NOT EXISTS (SELECT 1 FROM staged t WHERE t.o_orderkey = e.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // J6 explode + regroup (word histogram stands in for the pipe-list
    // explode; the true array form is exercised in q-create_ids).
    QuerySpec("q08_explode_words",
      (s, dir) => table(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("word")),
      Some("""SELECT w AS word, COUNT(*) AS n
        |FROM (SELECT UNNEST(string_split(p_name, ' ')) AS w FROM part)
        |GROUP BY w ORDER BY word""".stripMargin)),

    // J5 interval-overlap audit — scalable window form (running max of
    // prior ends over a strict range frame; same semantics as q10).
    QuerySpec("q09_overlap_window",
      (s, dir) => Temporal.overlapsWindow(lineitemVersioned(s, dir))
        .orderBy(col("identificatie"), col("volgnummer"), col("begin"),
          col("eind").asc_nulls_last),
      Some(s"""WITH v AS ($versionedSql),
        |w AS (SELECT v.*,
        |    MAX(CASE WHEN eind_geldigheid IS NULL THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY identificatie ORDER BY epoch(begin_geldigheid)
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_open,
        |    MAX(eind_geldigheid) OVER (
        |      PARTITION BY identificatie ORDER BY epoch(begin_geldigheid)
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max_eind
        |  FROM v)
        |SELECT identificatie, volgnummer,
        |       begin_geldigheid AS begin, eind_geldigheid AS eind
        |FROM w
        |WHERE prior_open = 1 OR begin_geldigheid < prior_max_eind
        |ORDER BY identificatie, volgnummer, begin,
        |         eind ASC NULLS LAST""".stripMargin)),

    // J5 SQL-faithful self-join form (bagh/batch.py:260-272).
    QuerySpec("q10_overlap_join",
      (s, dir) => Temporal.overlapPairsJoin(lineitemVersioned(s, dir))
        .select(col("identificatie"), col("volgnummer_a"), col("volgnummer_b"))
        .orderBy(col("identificatie"), col("volgnummer_a"), col("volgnummer_b")),
      Some(s"""WITH v AS ($versionedSql)
        |SELECT a.identificatie AS identificatie,
        |       a.volgnummer AS volgnummer_a, b.volgnummer AS volgnummer_b
        |FROM v a JOIN v b
        |  ON a.identificatie = b.identificatie
        | AND a.volgnummer <> b.volgnummer
        | AND a.begin_geldigheid > b.begin_geldigheid
        | AND (a.begin_geldigheid < b.eind_geldigheid OR b.eind_geldigheid IS NULL)
        |ORDER BY identificatie, volgnummer_a, volgnummer_b""".stripMargin))
  )
}
