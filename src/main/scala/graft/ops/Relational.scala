package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join-shaped operators (SURVEY.md §2.3 J1/J6, §2.4 A3/A4, §2.7).
  *
  * The reference implements FK checks by materializing parent-id sets in
  * driver RAM (bagh/batch.py:77-82) — the moral equivalent of a broadcast
  * hash join. Here every check is a join against the parent's distinct
  * keys, broadcast: every BAG parent's key set is small.
  */
object Relational {

  /** J1 FK-existence check as a left-semi join. Reference semantics
    * (bagh/batch.py:226-238): a NULL fk passes the check (`id_rel is
    * None` skips it, :231); a non-null fk must exist in the parent.
    *
    * Implemented as (fk IS NULL) ∪ (semi-join on fk): the null slice is
    * a cheap filter union, the non-null slice a single join against
    * the broadcast parent keys. */
  def semiJoinFk(child: DataFrame, fkCol: String, parent: DataFrame,
      parentKey: String): DataFrame = {
    val keys = broadcast(parent.select(col(parentKey).as("__pk")).distinct())
    val nullSide = child.filter(col(fkCol).isNull)
    val matchSide = child.filter(col(fkCol).isNotNull)
      .join(keys, col(fkCol) === col("__pk"), "left_semi")
    nullSide.unionByName(matchSide)
  }

  /** Dual of [[semiJoinFk]]: the rows a FK check would reject (non-null
    * fk with no parent) — the reference's per-row skip counter
    * (bagh/batch.py:232-236) as a first-class dead-letter DataFrame. */
  def fkViolations(child: DataFrame, fkCol: String, parent: DataFrame,
      parentKey: String): DataFrame = {
    val keys = broadcast(parent.select(col(parentKey).as("__pk")).distinct())
    child.filter(col(fkCol).isNotNull)
      .join(keys, col(fkCol) === col("__pk"), "left_anti")
  }

  /** J6 M:N relationship build (bagh/batch.py:364-431): explode an
    * array of parent references into bridge rows, drop pairs whose
    * parent does not exist (semi-join), emit the composite bridge id.
    * `refsCol` must be an array column (e.g. from parsers.createIds). */
  def explodeRelation(df: DataFrame, idCol: String, refsCol: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val pairs = df.select(col(idCol), explode(col(refsCol)).as("ref_id"))
    val valid = semiJoinFk(pairs, "ref_id", parent, parentKey)
      .filter(col("ref_id").isNotNull)
    valid.select(
      concat(col(idCol), lit("_"), col("ref_id")).as("id"),
      col(idCol).as("src_id"), col("ref_id"))
  }

  /** A4 distinct key-set (bagh/batch.py:80-82): the broadcast side of
    * J1 as its own operator. */
  def keySet(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol)).distinct()

  /** A3 grouped list-collect (bagh/batch.py:372-400) — deterministic
    * variant: per-group sorted array, so results are reproducible
    * across partitionings (collect_list order is otherwise unstable). */
  def collectSorted(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(col(valueCol))).as(s"${valueCol}s"))

  /** Skew-safe equi-join: the manual salting fallback for the case AQE
    * skew splitting can't fix (one mega-key on the probe side joined
    * against a small-but-not-broadcastable build side). Probe rows get
    * a deterministic salt in [0, salts) hashed from `saltSource` (any
    * probe-side column that varies within the hot key); the build side
    * is replicated `salts` ways; the join keys become (key, salt), so
    * the hot key's rows spread over `salts` reducers. Inner-join
    * semantics identical to `left.join(right, key)`. Build-side cost
    * is `salts`× its size — keep salts modest (8-32). */
  def skewSafeJoin(probe: DataFrame, build: DataFrame, keyCol: String,
      saltSource: String, salts: Int): DataFrame = {
    val saltedProbe = probe.withColumn("__salt",
      pmod(xxhash64(col(saltSource)), lit(salts)))
    val replicatedBuild = build.withColumn("__salt",
      explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    saltedProbe.join(replicatedBuild, Seq(keyCol, "__salt")).drop("__salt")
  }

  /** Deterministic modulo sample: keep rows where `key % denom` falls
    * in [0, num). Exactly reproducible in any engine (unlike seeded
    * RNG sampling), stable under re-runs and appends — the property a
    * 100 TB pipeline needs to build consistent eval/holdout splits.
    * Assumes the key is uniformly distributed mod `denom` (true of
    * surrogate keys); for clustered keys hash first. */
  def modSample(df: DataFrame, keyCol: String, num: Int, denom: Int): DataFrame =
    df.filter(pmod(col(keyCol), lit(denom)) < num)

  /** Skew-mitigating two-stage aggregation: salt the grouping key with
    * a deterministic hash of `saltSource` (any row-distinguishing
    * column), partially aggregate per (key, salt), then finalize per
    * key. Semantics identical to a plain groupBy-count/sum; the hot key
    * is spread over `salts` reducers in stage one — the manual fallback
    * when AQE skew handling can't kick in (e.g. single mega-key). */
  def saltedAgg(df: DataFrame, keyCol: String, saltSource: String,
      salts: Int, sumCol: Option[String] = None): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(col(saltSource)), lit(salts)))
    val partial = sumCol match {
      case Some(v) => salted.groupBy(col(keyCol), col("__salt"))
        .agg(count(lit(1)).as("__n"), sum(col(v)).as("__s"))
      case None => salted.groupBy(col(keyCol), col("__salt"))
        .agg(count(lit(1)).as("__n"))
    }
    val fin = sumCol match {
      case Some(_) => partial.groupBy(col(keyCol))
        .agg(sum(col("__n")).as("n"), sum(col("__s")).as("total"))
      case None => partial.groupBy(col(keyCol)).agg(sum(col("__n")).as("n"))
    }
    fin
  }

  /** Edit-distance fuzzy join (entity resolution): pairs from
    * `left` × `right` with levenshtein(l, r) ≤ `maxDist`, without the
    * cartesian product. Candidate generation is the q-gram inverted
    * index (the dedup stack's move applied to short strings) with the
    * EDJoin/PPJoin PREFIX FILTER (Xiao 2008): an edit destroys at most
    * `q` of a string's q-grams, so two strings within distance d must
    * share ≥ |grams| − q·d grams — hence, under any GLOBAL total order
    * on grams, a gram within each side's first q·d+1 (we order
    * rarest-first, computed over both inputs). Only those prefix grams
    * are indexed, so a low-entropy corpus (few distinct words, huge
    * common-gram buckets) generates candidates from its RARE grams,
    * not its stopword-grams. The q-gram arm is complete for strings of
    * length ≥ q·(d+1)+d; shorter ones are caught by a tiny-string
    * length-bucket arm. A length pre-filter (|Δlen| ≤ d) prunes before
    * the exact verify.
    *
    * Scale: shuffle is keyed on prefix grams (rarest-first bounds the
    * buckets), the verify is a scalar per candidate — never |L|·|R|.
    * Inputs should be DISTINCT entity strings (resolve representatives
    * first, re-expand after): duplicated strings make the OUTPUT
    * itself quadratic, which no candidate strategy can avoid. */
  def fuzzyJoin(left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String,
      q: Int = 3, maxDist: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(q >= 2 && maxDist >= 0)
    val minSafeLen = q * (maxDist + 1) + maxDist
    def grams(df: DataFrame, id: String, str: String) = df
      .select(col(id).as("__gid"), col(str).as("__gs"))
      .filter(length(col("__gs")) >= minSafeLen)
      .select(col("__gid"), col("__gs"), explode(sequence(lit(1),
        length(col("__gs")) - lit(q - 1))).as("__i"))
      .select(col("__gid"), col("__gs"),
        substring(col("__gs"), col("__i"), lit(q)).as("__g"))
      .distinct()
    val lg = grams(left, leftId, leftStr)
    val rg = grams(right, rightId, rightStr)
    // global rarest-first gram order, shared by both sides (freq over
    // the union of both inputs' distinct (string, gram) pairs; ties
    // broken by the gram itself — total and deterministic)
    val freq = lg.select(col("__g")).unionByName(rg.select(col("__g")))
      .groupBy(col("__g")).agg(count(lit(1)).as("__f"))
    val prefixLen = q * maxDist + 1
    def prefix(g: DataFrame) = g.join(freq, Seq("__g"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__gid")).orderBy(col("__f"), col("__g"))))
      .filter(col("__rk") <= prefixLen)
      .select(col("__gid"), col("__gs"), col("__g"))
    val candidates = prefix(lg)
      .withColumnRenamed("__gid", "__lid").withColumnRenamed("__gs", "__ls")
      .join(prefix(rg)
        .withColumnRenamed("__gid", "__rid").withColumnRenamed("__gs", "__rs"),
        Seq("__g"))
      .select(col("__lid"), col("__ls"), col("__rid"), col("__rs"))
      .distinct()
    // tiny-string arm: below the q-gram completeness bound, block on
    // length bucket (|Δlen| ≤ d ⇒ same or adjacent bucket). The arm
    // extends maxDist ABOVE the bound so a (just-below, just-above)
    // pair — missed by the gram arm, which needs BOTH sides long — is
    // still caught; the small overlap is deduped before the verify.
    val tinyCut = minSafeLen + maxDist
    val tinyL = left.select(col(leftId).as("__lid"), col(leftStr).as("__ls"))
      .filter(length(col("__ls")) < tinyCut)
    val tinyR = right.select(col(rightId).as("__rid"), col(rightStr).as("__rs"))
      .filter(length(col("__rs")) < tinyCut)
    // |Δlen| ≤ d ⇒ bucket(len div (d+1)) differs by ≤ 1: the left side
    // explodes to its bucket ± 1 and the join is EQUI (hash, never a
    // nested loop) — the standard neighborhood-blocking move
    val tiny = tinyL
      .withColumn("__lb", (length(col("__ls")) / (maxDist + 1)).cast("int"))
      .select(col("__lid"), col("__ls"),
        explode(array(col("__lb") - 1, col("__lb"), col("__lb") + 1))
          .as("__b"))
      .join(tinyR.withColumn("__b",
          (length(col("__rs")) / (maxDist + 1)).cast("int")),
        Seq("__b"))
      .select(col("__lid"), col("__ls"), col("__rid"), col("__rs"))
    candidates.unionByName(tiny).distinct()
      .filter(abs(length(col("__ls")) - length(col("__rs"))) <= maxDist)
      .withColumn("dist", levenshtein(col("__ls"), col("__rs")))
      .filter(col("dist") <= maxDist)
      .select(col("__lid").as(leftId), col("__rid").as(rightId), col("dist"))
  }

  /** Per-group 2-D Pareto frontier (skyline, maximize both axes) of
    * the DISTINCT (x, y) point set: one partitioned window instead of
    * the quadratic dominance anti-join — order (x desc, y desc), a
    * point survives iff its y strictly exceeds every preceding y
    * (preceding rows have x' > x, or x' = x with y' > y — exactly the
    * dominators). O(n log n) per group vs the definitional O(n²); the
    * q156 oracle runs the NOT EXISTS definition and must agree. */
  def paretoFrontier(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = df.select(col(groupCol), col(xCol).as("x"),
      col(yCol).as("y")).distinct()
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("x").desc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("__my", max(col("y")).over(w))
      .filter(col("__my").isNull || col("y") > col("__my"))
      .select(col(groupCol), col("x"), col("y"))
  }

  /** BASKET CO-OCCURRENCE — frequent item PAIRS with exact support
    * (the market-basket primitive; the counting core of Apriori's
    * k = 2 pass and of PMI / embedding co-occurrence tables): one
    * row per unordered item pair appearing together in ≥ `minSupport`
    * DISTINCT baskets. Items dedupe within a basket first (support
    * counts baskets, not line repeats); pairs generate by a
    * basket-keyed equi self-join under `item_a < item_b`, so the
    * work is Σ s_b²/2 over basket sizes — one mega-basket would melt
    * a task quadratically, which is why `maxBasketSize` EXCLUDES
    * oversized baskets up front (one keyed count aggregate; the
    * Gopher-filter discipline — and excluding a 10⁶-item basket is
    * usually the semantically right call anyway: its pairs carry no
    * affinity signal, only its size). With the cap, per-basket work
    * is bounded by maxBasketSize², the join is keyed (shuffle on the
    * basket key, map-side pair generation within equi groups), and
    * the pair-count aggregate is map-side combinable. Output
    * (item_a, item_b, support), nulls excluded. */
  def coOccurrence(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasketSize: Int = 1000): DataFrame = {
    require(minSupport >= 1,
      s"coOccurrence: minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2,
      s"coOccurrence: maxBasketSize must be >= 2, got $maxBasketSize")
    val items = df.filter(col(itemCol).isNotNull)
      .select(col(basketCol).as("__k"), col(itemCol).as("__v"))
      .distinct()
    val small = items.groupBy(col("__k"))
      .agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") <= maxBasketSize)
      .select(col("__k").as("__k2"))
    val kept = items.join(small, col("__k") === col("__k2"),
      "left_semi")
    val right = kept.select(col("__k").as("__kb"),
      col("__v").as("__vb"))
    kept.join(right,
        col("__k") === col("__kb") && col("__v") < col("__vb"))
      .groupBy(col("__v"), col("__vb"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .select(col("__v").as("item_a"), col("__vb").as("item_b"),
        col("support"))
  }

  /** ASSOCIATION RULES over the [[coOccurrence]] pairs — lift and
    * both directional confidences, in exact integer micros (the
    * log-free PMI: PMI = ln(lift), so the lift ratio carries the
    * same signal hash-exactly where the log cannot):
    *
    *   lift_micro    = (10⁶ · support · baskets) div (n_a · n_b)
    *   conf_ab_micro = (10⁶ · support) div n_a     (a ⇒ b)
    *   conf_ba_micro = (10⁶ · support) div n_b     (b ⇒ a)
    *
    * — 10⁶ = independence for lift, above it positive association;
    * probabilities are over KEPT baskets (the maxBasketSize
    * exclusion applies to marginals, totals and pairs alike, so the
    * ratios stay coherent). Adds to the pair pass: one item-marginal
    * roll-up of the deduped item frame (≤|items| rows, joined twice
    * by AQE broadcast) and the 1-row kept-basket total (allowlisted
    * attach). support·baskets ≤ n² rides DECIMAL(38,0). */
  def liftTable(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasketSize: Int = 1000): DataFrame = {
    val d38 = "decimal(38,0)"
    val items = df.filter(col(itemCol).isNotNull)
      .select(col(basketCol).as("__k"), col(itemCol).as("__v"))
      .distinct()
    val small = items.groupBy(col("__k"))
      .agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") <= maxBasketSize)
      .select(col("__k").as("__k2"))
    val kept = items.join(small, col("__k") === col("__k2"),
      "left_semi")
    val marg = kept.groupBy(col("__v"))
      .agg(count(lit(1)).as("__m"))
    val tot = kept.agg(countDistinct(col("__k")).as("baskets"))
    val pairs = coOccurrence(df, basketCol, itemCol, minSupport,
      maxBasketSize)
    pairs
      .join(marg.select(col("__v").as("item_a"),
        col("__m").as("n_a")), Seq("item_a"))
      .join(marg.select(col("__v").as("item_b"),
        col("__m").as("n_b")), Seq("item_b"))
      .crossJoin(broadcast(tot)) // 1-row kept-basket total attach
      .withColumn("lift_micro", expr(
        s"CAST((CAST(1000000 AS $d38) * support * baskets) div " +
          s"(CAST(n_a AS $d38) * n_b) AS BIGINT)"))
      .withColumn("conf_ab_micro", expr(
        "(1000000 * support) div n_a"))
      .withColumn("conf_ba_micro", expr(
        "(1000000 * support) div n_b"))
      .select(col("item_a"), col("item_b"), col("support"),
        col("n_a"), col("n_b"), col("baskets"), col("lift_micro"),
        col("conf_ab_micro"), col("conf_ba_micro"))
  }

  /** JOIN FAN-OUT profile (r15): the pre-join diagnostic — for the
    * equi-join left ⋈ right on (leftKey = rightKey), the histogram
    * of per-LEFT-key match multiplicities including the 0 lane
    * (keys that would drop in an inner join / null-pad in a left
    * join). The answer to "is this join 1:1, 1:N, or about to
    * explode" BEFORE paying for it: total join output =
    * Σ m·n_keys, the skew candidates are the high-m tail. Two keyed
    * counts + one keyed join of ≤|keys|-row frames; null keys
    * excluded (equi joins drop them anyway). Output:
    * (multiplicity, n_keys). */
  def joinFanoutProfile(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String): DataFrame = {
    val lk = left.filter(col(leftKey).isNotNull)
      .select(col(leftKey).as("__k")).distinct()
    val rc = right.filter(col(rightKey).isNotNull)
      .groupBy(col(rightKey).as("__k2"))
      .agg(count(lit(1)).as("__m"))
    lk.join(rc, col("__k") === col("__k2"), "left")
      .select(coalesce(col("__m"), lit(0L)).as("multiplicity"))
      .groupBy(col("multiplicity"))
      .agg(count(lit(1)).as("n_keys"))
  }
}
