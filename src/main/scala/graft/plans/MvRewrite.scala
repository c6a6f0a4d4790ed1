package graft.plans

import java.util.Locale
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Divide, EvalMode, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Transparent AGGREGATE-OVER-MATERIALIZED-VIEW rewrite — the lakehouse
  * optimization that makes stored rollups useful without query changes:
  * a registered (base location → MV) mapping lets the optimizer answer
  * `SELECT keys, SUM(x), COUNT(*) FROM base GROUP BY keys` from the
  * stored MV table instead of scanning the base — at 100 TB the
  * difference between a full base scan per dashboard refresh and a
  * bounded rollup read. This is SURVEY §7.3 ladder step (c) applied to
  * the OPTIMIZER surface: a `Rule[LogicalPlan]` injected next to the
  * as-of pushdown rules ([[AsofJoinPushdown]]) by `GraftExtensions` at
  * session build (`GraftSession.builder`, or
  * `spark.sql.extensions=graft.GraftExtensions` on a cluster deploy).
  *
  * Two provable grains (the exact-grain rule plus the re-aggregation
  * half the MvOps scaladoc promised):
  *   - EXACT grain — grouping keys equal the MV's keys: each output is
  *     answered by a bare MV column (a Project over the MV scan);
  *   - COARSER grain — grouping keys a non-empty STRICT SUBSET of the
  *     MV's keys: SUM re-aggregates as SUM-of-sums and COUNT(*) as
  *     SUM(count) over the rollup (both exact: per-group partial sums
  *     are a commutative monoid, and SQL SUM's null-skipping matches —
  *     a group-sum is NULL iff every base measure in it was NULL, so
  *     re-summing skips exactly the rows the base SUM skipped). The
  *     EMPTY grouping set (global aggregate) is deliberately refused:
  *     over an empty base, COUNT(*) must return one row with 0 while
  *     SUM(cnt) over the empty MV returns NULL — the one spot where
  *     re-aggregation and the base aggregate disagree.
  *
  * Soundness contract (deliberately strict — a rewrite that fires on a
  * pattern it cannot prove is a WRONG-ANSWER bug, not a missed
  * optimization):
  *   - grouping keys must be exactly / a non-empty strict subset of the
  *     MV's keys as above (duplicate grouping names bail);
  *   - every output must be built from bare grouping keys, `SUM(col)`
  *     for a registered measure, `COUNT(*)` with a registered count
  *     column, `COUNT(col)` with a registered per-measure count, or
  *     `AVG(col)` with BOTH a registered sum and per-measure count
  *     (derived as sum/count with COUNT(measure) — never COUNT(*) — as
  *     the divisor, the exact division Average itself evaluates; double
  *     measures only, a DECIMAL average widens scale and bails) — no
  *     DISTINCT, no FILTER clauses, no other functions; mapped
  *     replacements must preserve the output's dataType exactly
  *     (a DECIMAL sum whose re-sum would widen precision bails);
  *   - the aggregate's child must be the registered base scan (bare, or
  *     under pure column-pruning Projects and/or deterministic
  *     subquery-free Filters);
  *   - FILTER SUBSUMPTION: base-side predicates are rebased
  *     onto the MV iff every attribute they reference is an MV KEY
  *     column (identical type) — rows within one MV group share the
  *     key tuple, so a key predicate selects whole groups and
  *     filtering the rollup by the same predicate is exact, for ANY
  *     deterministic predicate shape (=, IN, ranges, disjunctions).
  *     A predicate touching a measure or unregistered column selects
  *     rows WITHIN groups — the rollup cannot re-slice those — and
  *     bails the whole rewrite (refusals spec-proven);
  *   - output attribute ids/names/types are preserved via aliases onto
  *     the MV columns, so parent operators are untouched;
  *   - name matching honors `spark.sql.caseSensitive` (insensitive by
  *     default, same as analysis), and base locations are normalized
  *     through `java.net.URI` so `file:/x`, `file:///x` and `/x` all
  *     name the same registration;
  *   - FRESHNESS: the rule cannot see base-table mutations, so every
  *     graft sink that writes a path calls [[invalidate]] and every
  *     catalog-table writer calls [[deregisterTable]] — a write through
  *     the engine's own sinks can never leave a stale rollup answering.
  *     Out-of-band writers remain the registrant's contract: register
  *     (or refresh) before querying, deregister when stale.
  */
object MvRewrite {

  /** One registered view: MV catalog-table name, the exact grouping
    * keys, base-measure→MV-column names for SUMs, the MV column holding
    * COUNT(*), and base-measure→MV-column names for per-measure
    * NON-NULL counts (`COUNT(measure)` stored next to its sum). The
    * last map is what makes AVG derivable soundly: `AVG(x)` skips NULL
    * x rows, so its divisor is COUNT(x), never COUNT(*) — a measure
    * without a registered count column simply cannot answer AVG and
    * the rewrite bails.
    */
  final case class MvDef(
      mvTable: String,
      keys: Seq[String],
      sums: Map[String, String],
      countCol: Option[String],
      avgCounts: Map[String, String] = Map.empty)

  private[plans] val registry = new ConcurrentHashMap[String, MvDef]()

  /** Root-path normalization through `java.net.URI`: the `file` scheme
    * (any slash count) collapses to the bare path, other schemes keep
    * scheme + authority (hdfs://nn1/x and hdfs://nn2/x are different
    * tables), trailing slashes are stripped. Unparseable strings fall
    * back to the raw value — a registration and a scan that both fail
    * URI parsing still match each other verbatim.
    */
  private[plans] def normalize(p: String): String = {
    val viaUri =
      try {
        val u = new java.net.URI(p)
        Option(u.getScheme).map { s =>
          val scheme = s.toLowerCase(Locale.ROOT)
          if (scheme == "file") u.getPath
          else {
            val auth = Option(u.getAuthority).filter(_.nonEmpty)
              .map("//" + _).getOrElse("")
            s"$scheme:$auth${u.getPath}"
          }
        }
      } catch { case _: Exception => None }
    viaUri.getOrElse(p).replaceAll("/+$", "")
  }

  def register(basePath: String, d: MvDef): Unit =
    registry.put(normalize(basePath), d)

  def deregister(basePath: String): Unit = registry.remove(normalize(basePath))

  /** The live registration for a base path, if any. */
  def registered(basePath: String): Option[MvDef] =
    Option(registry.get(normalize(basePath)))

  /** Remove EVERY registration whose MvDef serves from `mvTable`
    * (case-insensitive — catalog table names are). The invariant behind
    * it: overwriting an MV table invalidates every mapping that reads
    * it, not just the one the writer had in mind — a prior SF dir's
    * registration pointing at a table just overwritten with another
    * dir's data is a silent wrong answer. Called by
    * the engine's own catalog-table writers ([[graft.sinks.Sinks]]).
    */
  def deregisterTable(mvTable: String): Unit = {
    val it = registry.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getValue.mvTable.equalsIgnoreCase(mvTable)) it.remove()
    }
  }

  /** A write landed at `path`: drop every registration whose base is
    * that path, a parent of it (a write INTO a registered directory
    * stales the rollup), or a child of it (overwriting a parent
    * directory replaces the registered base wholesale). Prefix matches
    * only at '/' boundaries — `/data/events` does not invalidate
    * `/data/events_v2`. Called by every path-writing sink.
    */
  def invalidate(path: String): Unit = {
    val p = normalize(path)
    def covers(a: String, b: String): Boolean =
      a == b || b.startsWith(a + "/")
    val it = registry.keySet().iterator()
    while (it.hasNext) {
      val reg = it.next()
      if (covers(reg, p) || covers(p, reg)) it.remove()
    }
  }
}

object MvRewriteRule extends Rule[LogicalPlan] {
  import MvRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (registry.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  /** The registered MvDef of the aggregate's child plus every Filter
    * condition sitting between the aggregate and the scan, if that child is
    * the registered single-root base scan under pure attribute-only
    * Projects (column pruning) and/or deterministic, subquery-free Filters.
    * The FILTER-SUBSUMPTION half: a predicate over the base is answerable
    * from the MV iff it references ONLY the MV's KEY columns — rows within
    * one MV group all share the key tuple, so filtering base rows by a key
    * predicate selects exactly the rows whose groups the same predicate
    * selects over the rollup. Whether the references really are all keys is
    * proven by the caller; collecting here only establishes WHERE the
    * conditions sit (between aggregate and scan, nothing else interleaved).
    */
  private def baseDef(child: LogicalPlan): Option[(MvDef, Seq[Expression])] =
    child match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.toSeq match {
          case Seq(p) =>
            Option(registry.get(normalize(p.toString))).map(d => (d, Nil))
          case _ => None
        }
        case _ => None
      }
      case p: Project if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        baseDef(p.child)
      case f: Filter
          if f.condition.deterministic &&
            f.condition.find(
              _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
                .PlanExpression[_]]).isEmpty =>
        baseDef(f.child).map { case (d, cs) => (d, f.condition +: cs) }
      case _ => None
    }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val spark = SparkSession.active
    // name matching per spark.sql.caseSensitive — Spark's own analysis
    // resolved these names case-insensitively (by default), so an
    // exact-case match would silently never fire on `L_RETURNFLAG`
    val ci = !spark.sessionState.conf.caseSensitiveAnalysis
    def canon(s: String): String = if (ci) s.toLowerCase(Locale.ROOT) else s
    for {
      (d, filters) <- baseDef(agg.child)
      groupNames <- attributeNames(agg.groupingExpressions)
      cGroup = groupNames.map(canon)
      if cGroup.distinct.size == cGroup.size
      cKeys = d.keys.map(canon)
      exact = cGroup.sorted == cKeys.sorted
      // coarser grain: non-empty strict subset (empty = global
      // aggregate, refused — COUNT(*) over an empty base is 0, but
      // SUM(cnt) over the empty MV is NULL)
      if exact || (cGroup.nonEmpty && cGroup.toSet.subsetOf(cKeys.toSet))
      if spark.catalog.tableExists(d.mvTable)
      mv = EliminateSubqueryAliases(
        spark.table(d.mvTable).queryExecution.analyzed)
      mvOut = mv.output.map(a => canon(a.name) -> a).toMap
      sums = d.sums.map { case (k, v) => canon(k) -> v }
      avgCounts = d.avgCounts.map { case (k, v) => canon(k) -> v }
      countCol = d.countCol
      aggMapper = if (exact) exactAggMapper(sums, avgCounts, countCol, mvOut, canon) _
                  else reaggAggMapper(sums, avgCounts, countCol, mvOut, canon) _
      mappedOpts = agg.aggregateExpressions
        .map(mapOutput(_, cGroup.toSet, mvOut, canon, aggMapper))
      if mappedOpts.forall(_.isDefined)
      outs = mappedOpts.map(_.get)
      // filter subsumption: every collected predicate must map WHOLLY
      // onto MV KEY columns of identical type — any reference to a
      // measure or unregistered column bails the rewrite (predicates
      // over non-key columns select rows WITHIN groups; the rollup
      // cannot re-slice those)
      mappedFilterOpts = filters.map(
        mapFilter(_, cKeys.toSet, mvOut, canon))
      if mappedFilterOpts.forall(_.isDefined)
    } yield {
      val scan = mappedFilterOpts.map(_.get)
        .foldRight(mv)((c, p) => Filter(c, p))
      if (exact) Project(outs, scan)
      else Aggregate(cGroup.flatMap(mvOut.get), outs, scan)
    }
  }

  /** One base-side Filter condition rebased onto the MV scan: every
    * attribute must be an MV KEY column with an identically-typed MV
    * attribute, and no AggregateExpression may appear (impossible below
    * an Aggregate, checked anyway). None bails the whole rewrite. */
  private def mapFilter(
      cond: Expression, keyNames: Set[String],
      mvOut: Map[String, Attribute], canon: String => String)
      : Option[Expression] = {
    val mapped = cond.transformUp {
      case a: AttributeReference
          if keyNames.contains(canon(a.name)) &&
            mvOut.get(canon(a.name)).exists(_.dataType == a.dataType) =>
        mvOut(canon(a.name))
    }
    val mvAttrs = mvOut.values.map(_.exprId).toSet
    val clean = mapped.references.forall(r => mvAttrs.contains(r.exprId)) &&
      mapped.collectFirst { case ae: AggregateExpression => ae }.isEmpty
    if (clean) Some(mapped) else None
  }

  private def attributeNames(
      es: Seq[Expression]): Option[Seq[String]] = {
    val names = es.map {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    if (names.forall(_.isDefined)) Some(names.map(_.get)) else None
  }

  /** The registered MV column name answering ONE plain (no DISTINCT /
    * FILTER) SUM-of-measure, COUNT(*), or COUNT(measure) — None bails
    * the rewrite. COUNT(measure) is served by the same per-measure
    * non-null count column that backs AVG (both re-aggregate as
    * SUM(cnt_x), both LongType). */
  private def measureCol(
      ae: AggregateExpression, sums: Map[String, String],
      avgCounts: Map[String, String], countCol: Option[String],
      canon: String => String): Option[String] = {
    if (ae.isDistinct || ae.filter.nonEmpty) return None
    ae.aggregateFunction match {
      case s: Sum => s.child match {
        case c: AttributeReference => sums.get(canon(c.name))
        case _ => None
      }
      case c: Count if c.children == Seq(Literal(1)) => countCol
      case c: Count => c.children match {
        case Seq(a: AttributeReference) => avgCounts.get(canon(a.name))
        case _ => None
      }
      case _ => None
    }
  }

  /** The (sum, non-null-count) MV column pair answering ONE plain
    * AVG-of-measure — None bails. Restricted to DoubleType measures
    * whose MV pair is (DoubleType sum, LongType count): Average's
    * result type for doubles is DoubleType and its final step is
    * `Divide(sum, count cast double, LEGACY)`, which the derivation
    * reproduces operation-for-operation; a DECIMAL average widens
    * scale and bails.
    */
  private def avgCols(
      ae: AggregateExpression, sums: Map[String, String],
      avgCounts: Map[String, String], mvOut: Map[String, Attribute],
      canon: String => String): Option[(Attribute, Attribute)] = {
    if (ae.isDistinct || ae.filter.nonEmpty) return None
    ae.aggregateFunction match {
      case a: Average if ae.dataType == DoubleType => a.child match {
        case c: AttributeReference =>
          for {
            s <- sums.get(canon(c.name))
            n <- avgCounts.get(canon(c.name))
            sa <- mvOut.get(canon(s))
            na <- mvOut.get(canon(n))
            if sa.dataType == DoubleType && na.dataType == LongType
          } yield (sa, na)
        case _ => None
      }
      case _ => None
    }
  }

  /** EXACT grain: SUM/COUNT(*) are answered by the bare MV column
    * (same value, one row per group already); AVG(x) by
    * `mv_sum_x / CAST(mv_cnt_x AS DOUBLE)` — the IDENTICAL final
    * division Average itself evaluates (LEGACY mode: NULL on the
    * all-NULL group's 0 divisor, matching AVG's NULL). Type-checked.
    */
  private def exactAggMapper(
      sums: Map[String, String], avgCounts: Map[String, String],
      countCol: Option[String],
      mvOut: Map[String, Attribute], canon: String => String)(
      ae: AggregateExpression): Option[Expression] =
    measureCol(ae, sums, avgCounts, countCol, canon)
      .flatMap(n => mvOut.get(canon(n)))
      .filter(_.dataType == ae.dataType)
      .orElse(avgCols(ae, sums, avgCounts, mvOut, canon).map {
        case (sa, na) => Divide(sa, Cast(na, DoubleType), EvalMode.LEGACY)
      })

  /** COARSER grain: SUM(x) → SUM(mv_sum_x), COUNT(*) → SUM(mv_cnt),
    * AVG(x) → SUM(mv_sum_x) / CAST(SUM(mv_cnt_x) AS DOUBLE) — fresh
    * Complete AggregateExpressions over the MV columns. The dataType
    * must round-trip exactly (Sum over LongType stays LongType, so
    * COUNT(*)'s type is preserved; Sum over a DECIMAL sum column would
    * widen precision — that case bails here). */
  private def reaggAggMapper(
      sums: Map[String, String], avgCounts: Map[String, String],
      countCol: Option[String],
      mvOut: Map[String, Attribute], canon: String => String)(
      ae: AggregateExpression): Option[Expression] = {
    def resum(attr: Attribute): AggregateExpression =
      AggregateExpression(Sum(attr), Complete, isDistinct = false)
    measureCol(ae, sums, avgCounts, countCol, canon)
      .flatMap(n => mvOut.get(canon(n)))
      .map(resum)
      .filter(_.dataType == ae.dataType)
      .orElse(avgCols(ae, sums, avgCounts, mvOut, canon).map {
        case (sa, na) =>
          Divide(resum(sa), Cast(resum(na), DoubleType), EvalMode.LEGACY)
      })
  }

  /** Map ONE aggregate output onto MV columns, preserving the output's
    * name, exprId, and type. Outputs are arbitrary expressions over
    * aggregates and grouping keys (the optimizer's CollapseProject
    * folds parent projections like `round(sum(x), 2)` INTO the
    * aggregate's output list before extra rules run), so this
    * substitutes every inner AggregateExpression (via `aggMapper`) and
    * grouping attribute with its MV form and then proves nothing
    * unmapped is left — any original AggregateExpression that failed to
    * map, or any surviving non-MV attribute, bails. Replacements the
    * mapper CONSTRUCTED (the coarser grain's re-sums) are tracked by
    * identity so they don't read as "unmapped".
    */
  private def mapOutput(
      ne: NamedExpression, groupNames: Set[String],
      mvOut: Map[String, Attribute], canon: String => String,
      aggMapper: AggregateExpression => Option[Expression])
      : Option[NamedExpression] = {
    val constructed =
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Expression, java.lang.Boolean]())
    val aggsMapped = ne.transformDown {
      case ae: AggregateExpression =>
        aggMapper(ae) match {
          case Some(e) =>
            // mark EVERY AggregateExpression inside the replacement
            // (the AVG derivation nests two re-sums under a Divide),
            // not just the root, or they'd read as "unmapped" below
            e.foreach {
              case inner: AggregateExpression => constructed.add(inner); ()
              case _ => ()
            }
            constructed.add(e)
            e
          case None => ae
        }
    }
    val keysMapped = aggsMapped.transformUp {
      case a: AttributeReference
          if groupNames.contains(canon(a.name)) &&
            mvOut.get(canon(a.name)).exists(_.dataType == a.dataType) =>
        mvOut(canon(a.name))
    }
    val unmappedAgg = keysMapped.collectFirst {
      case ae: AggregateExpression if !constructed.contains(ae) => ae
    }.isDefined
    val mvAttrs = mvOut.values.map(_.exprId).toSet
    val foreignAttr = keysMapped.references.exists(r => !mvAttrs.contains(r.exprId))
    if (unmappedAgg || foreignAttr) None
    else keysMapped match {
      // a bare grouping key became the MV's attribute — re-alias onto
      // the ORIGINAL exprId so parent operators stay resolved
      case a: Attribute => Some(Alias(a, ne.name)(exprId = ne.exprId))
      case other: NamedExpression => Some(other)
      case e => Some(Alias(e, ne.name)(exprId = ne.exprId))
    }
  }
}
