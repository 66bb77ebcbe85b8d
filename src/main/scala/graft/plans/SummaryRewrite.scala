package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.DecimalType

/** Materialized-summary query rewrite — the optimizer-level payoff of
  * the q144/q145 incremental-agg state: a registered base table's
  * full-detail Aggregate is transparently answered from its persisted
  * summary frame (count → Σn, sum(dec2(c)) → Σ sum_c, min/max →
  * min/max of the state's min/max), so a matching rollup over a
  * 100 TB fact table becomes a scan of |keys| rows — the classic
  * materialized-view rewrite, installed in every session by
  * [[graft.Sessions.local]] via `experimental.extraOptimizations`.
  *
  * The match is deliberately EXACT (defense against silently
  * rewriting unrelated queries, since the registry lives for the
  * session): the child must be the bare registered relation (no
  * Filter — a predicate means detail rows the summary cannot
  * answer), the grouping must be precisely the registered key set,
  * and every aggregate must be one of the four mergeable forms the
  * state carries. Anything else leaves the plan untouched. Output
  * attribute names, types, AND exprIds are preserved, so parent
  * operators (sorts, projections) are unaffected. */
object SummaryRegistry {
  /** A registered summary: where the state parquet lives, the shape
    * it was built with ([[graft.ops.IncrementalAgg.aggState]]), and
    * the base table's listing fingerprint AT REGISTRATION — the
    * freshness pin (see [[lookup]]). */
  case class SummarySpec(statePath: String, keys: Seq[String],
      sums: Seq[String], mins: Seq[String], maxs: Seq[String],
      baseFingerprint: String = "")

  private val reg =
    new java.util.concurrent.ConcurrentHashMap[String, SummarySpec]()

  /** Canonical identity of a base table: absolute, symlink-resolved
    * local path with any `file:` scheme stripped. Registration and
    * lookup both normalize through here, so the match is EXACT path
    * equality — a registration under a relative `data/lineitem
    * .parquet` can never capture some other table whose absolute
    * path merely ends with that suffix (ADVICE r10 #1). */
  private def canonical(path: String): String = {
    val p = path.stripPrefix("file:")
    try new java.io.File(p).getCanonicalPath
    catch { case _: Exception => new java.io.File(p).getAbsolutePath }
  }

  /** Register `spec` as the summary of the base table at `basePath`
    * (normalized to its canonical absolute path — lookups require
    * exact identity, never a suffix match). The base's listing
    * fingerprint is captured here: a rewrite is only taken while the
    * base is byte-identical to what the summary was built from —
    * appended/rewritten base files silently disable the rewrite
    * rather than serving stale totals. */
  def register(basePath: String, spec: SummarySpec): Unit =
    reg.put(canonical(basePath),
      spec.copy(baseFingerprint =
        graft.queries.FixtureCache.fingerprint(basePath)))

  def clear(): Unit = reg.clear()

  // The freshness probe is re-computed on EVERY lookup — no TTL memo
  // (ADVICE r10 #2: a memoized fingerprint can keep serving summary
  // answers for up to the TTL after the base mutates). The
  // fingerprint is a metadata-only digest (sorted name:length:mtime
  // listing, no content reads), so even several optimizer passes per
  // query cost only directory stats.
  private def freshFingerprint(base: String): String =
    try graft.queries.FixtureCache.fingerprint(base)
    catch { case _: Exception => "" }

  /** `None` with no filesystem call while nothing is registered: the
    * rule is in every session, so this is on every aggregate's path. */
  private[plans] def lookup(rootPaths: Seq[String]): Option[SummarySpec] = {
    import scala.jdk.CollectionConverters._
    if (reg.isEmpty) return None
    val canon = rootPaths.map(canonical)
    reg.asScala.collectFirst {
      case (base, spec)
          if canon.contains(base) &&
            spec.baseFingerprint.nonEmpty &&
            freshFingerprint(base) == spec.baseFingerprint =>
        spec
    }
  }
}

object SummaryRewriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(groupings, results, child, _) =>
      rewrite(agg, groupings, results, child).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate, groupings: Seq[Expression],
      results: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    // child must reach the registered relation through column
    // Projects (what pruning leaves) and/or Filters; filter
    // predicates are collected and re-checked below — a predicate
    // over GROUPING KEYS only selects whole summary groups, so it
    // can be answered by filtering the state; any other reference
    // means detail rows and aborts.
    var cur: LogicalPlan = child
    var rel: Option[LogicalRelation] = None
    var subst = Map.empty[Long, Expression]
    var conds: Seq[Expression] = Nil
    var walking = true
    while (walking) cur match {
      case Project(projList, c)
          if projList.forall(p =>
            p.isInstanceOf[AttributeReference] || p.isInstanceOf[Alias]) =>
        subst ++= projList.collect {
          case a: Alias => a.exprId.id -> a.child
        }
        cur = c
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, c) =>
        conds :+= cond
        cur = c
      case l: LogicalRelation => rel = Some(l); walking = false
      case _ => walking = false
    }
    val spec = rel.flatMap { l =>
      l.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          SummaryRegistry.lookup(fs.location.rootPaths.map(_.toString))
        case _ => None
      }
    }
    spec.flatMap { sp =>
      def resolve(e: Expression): Expression = e.transformUp {
        case ar: AttributeReference =>
          subst.get(ar.exprId.id).map(resolve).getOrElse(ar)
      }
      // grouping must be a SUBSET of the registered key set: the
      // summary re-aggregates correctly to any coarser grain (count →
      // Σn, sum → Σ of partial sums, min/max → min/max of partials) —
      // the standard rollup-compatibility condition of MV rewrite. A
      // grouping column OUTSIDE the keys means detail the summary
      // does not carry.
      val groupNames = groupings.map(resolve).map {
        case ar: AttributeReference => ar.name
        case _ => return None
      }
      if (groupNames.distinct.size != groupNames.size ||
        !groupNames.forall(sp.keys.contains)) return None
      // every collected Filter predicate must touch KEY columns only
      // (deterministic scalar predicates over keys select whole
      // groups); translated onto the state below
      val resolvedConds = conds.map(resolve)
      if (!resolvedConds.forall(c => c.deterministic &&
        c.references.forall(a => sp.keys.contains(a.name)))) return None
      val spark = SparkSession.active
      if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(sp.statePath))) return None
      // a corrupt/partially-written state dir must DECLINE the
      // rewrite (fall back to the detail plan), never fail the whole
      // query from inside the optimizer (ADVICE r10 #3)
      val stateRel =
        try spark.read.parquet(sp.statePath).queryExecution.analyzed
        catch { case _: Exception => return None }
      val stateAttrMap: Map[String, AttributeReference] =
        stateRel.output.map(a => a.name -> a.asInstanceOf[AttributeReference]).toMap
      // schema drift between the registered SummarySpec and the
      // persisted state (stale state, wrong column lists) must abort
      // the rewrite, not throw NoSuchElementException inside the
      // optimizer: verify EVERY column the translation below can
      // touch up front (translation only ever derives names from
      // sp.keys/sums/mins/maxs plus "n", and groupings/filters are
      // checked ⊆ sp.keys before use, so apply is total after this)
      if (!(Seq("n") ++ sp.keys ++ sp.sums.map("sum_" + _) ++
        sp.mins.map("min_" + _) ++ sp.maxs.map("max_" + _))
        .forall(stateAttrMap.contains)) return None
      def stateAttr(name: String): AttributeReference = stateAttrMap(name)
      def mergedAgg(fnOut: org.apache.spark.sql.catalyst.expressions
          .aggregate.AggregateFunction): Expression =
        AggregateExpression(fnOut, Complete, isDistinct = false)
      // top-down translation: aggregate calls map to their merged
      // state forms (type-preserved via Cast where the merged sum is
      // wider), grouping attributes map to state key columns, and any
      // surrounding scalar expression (a cast, arithmetic) is kept
      // with translated children. Anything untranslatable aborts the
      // whole rewrite.
      def tr(e: Expression): Option[Expression] = e match {
        case ae @ AggregateExpression(fn, _, false, None, _) => fn match {
          case Count(Seq(Literal(v, _))) if v != null =>
            // Count is 0 on empty input where Sum is NULL — a
            // grouping-less aggregate over a filtered-empty state
            // must still answer 0, not NULL
            Some(org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
              mergedAgg(Sum(stateAttr("n"))),
              Literal(0L, org.apache.spark.sql.types.LongType))))
          case Sum(c, _) => resolve(c) match {
            case Cast(ar: AttributeReference, dt: DecimalType, _, _)
                if dt.precision == 18 && dt.scale == 2 &&
                  sp.sums.contains(ar.name) =>
              Some(Cast(mergedAgg(Sum(stateAttr(s"sum_${ar.name}"))),
                ae.dataType))
            case _ => None
          }
          case Min(c) => resolve(c) match {
            case ar: AttributeReference if sp.mins.contains(ar.name) =>
              Some(mergedAgg(Min(stateAttr(s"min_${ar.name}"))))
            case _ => None
          }
          case Max(c) => resolve(c) match {
            case ar: AttributeReference if sp.maxs.contains(ar.name) =>
              Some(mergedAgg(Max(stateAttr(s"max_${ar.name}"))))
            case _ => None
          }
          case _ => None
        }
        case ar: AttributeReference => resolve(ar) match {
          case a: AttributeReference if groupNames.contains(a.name) =>
            Some(stateAttr(a.name))
          case _ => None
        }
        case lit: Literal => Some(lit)
        case other =>
          val kids = other.children.map(tr)
          if (kids.nonEmpty && kids.forall(_.isDefined))
            Some(other.withNewChildren(kids.map(_.get)))
          else None
      }
      // translate every result expression or give up
      val newResults: Seq[NamedExpression] = results.map { ne =>
        val translated: Option[Expression] = ne match {
          case ar: AttributeReference => tr(ar)
          case Alias(child, _) => tr(child)
          case _ => None
        }
        translated match {
          case Some(t) => Alias(t, ne.name)(exprId = ne.exprId)
          case None => return None
        }
      }
      val newGroupings: Seq[Expression] =
        groupNames.map(n => stateAttr(n))
      val stateChild: LogicalPlan =
        if (resolvedConds.isEmpty) stateRel
        else org.apache.spark.sql.catalyst.plans.logical.Filter(
          resolvedConds.map(_.transformUp {
            case ar: AttributeReference => stateAttr(ar.name)
          }).reduce(org.apache.spark.sql.catalyst.expressions.And),
          stateRel)
      Some(Aggregate(newGroupings, newResults, stateChild))
    }
  }
}
