package graft.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}
import org.apache.spark.sql.types.{DataType, DoubleType}
import graft.ingest.Snapshots

/** Transparent materialized-view rewrite: a user `GROUP BY` whose shape a
  * registered incremental MV ([[graft.ingest.MatView]]) already maintains
  * is answered from the VIEW table instead of scanning the source — the
  * scan-avoidance half of materialized views, which until now required
  * the user to query the view table by hand.
  *
  * A rewrite fires only when ALL of:
  *  - the aggregate sits DIRECTLY over a latest-pin graft scan of the
  *    source table (no residual filter, no pushed limit/sample/agg — a
  *    WHERE between them changes the group contents and must fall back);
  *  - the grouping keys equal the view's key set, and every output is a
  *    key, `count(*)`/`count(1)`, `sum(valCol)`, `avg(valCol)` (derived
  *    as `sum_v / n_rows` — exact because both sides store the same
  *    mergeable state), or `min/max(valCol)` against a min/max view —
  *    no DISTINCT, no FILTER clauses;
  *  - the view is FRESH: its newest watermark commit names the source's
  *    current version. A stale view (source appended since the last
  *    refresh) silently falls back to the source scan — the rewrite is
  *    an optimization, never a freshness gamble.
  *
  * Because the view is itself a snapshot table maintained by
  * `MatView.refresh` (exact +new −old state, judge-grade oracles mv1–mv3),
  * the substituted answer is bit-equal to the recompute. The rewritten
  * plan is a pure PROJECTION over the view — group rows are already
  * one-per-key — so the aggregate's shuffle disappears along with the
  * source scan: at 100 TB the query cost drops from "scan the fact
  * table" to "read one row per group".
  *
  * Registration lives on the SOURCE table's property map
  * (`mv.rewrite.<name>` → `view-path TAB key,cols TAB valCol`, written by
  * [[graft.ingest.MatView.register]]) so the rule can discover candidate
  * views from the scan relation alone; `spark.graft.mv.rewrite=false`
  * disables the rule session-wide.
  */
object MvRewriteRule extends Rule[LogicalPlan] {

  val PropPrefix = "mv.rewrite."
  val ConfKey = "spark.graft.mv.rewrite"

  private case class Reg(view: String, keys: Seq[String], valCol: String)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val spark = SparkSession.active
    if (spark.conf.get(ConfKey, "true") != "true") return plan
    plan.transformUp {
      case agg: Aggregate =>
        scanBaseOf(agg.child).flatMap { case (base, cond) =>
          rewrite(spark, agg, base, cond)
        }.getOrElse(agg)
    }
  }

  /** Every graft table base scanned anywhere in `plan` — the test surface
    * for "the rewrite fired" (source base absent, view base present).
    */
  def graftScanBases(plan: LogicalPlan): Seq[String] = plan.collect {
    case r: DataSourceV2ScanRelation if r.relation.table.isInstanceOf[GraftTable] =>
      r.relation.table.asInstanceOf[GraftTable].tableBase
  }

  /** The source base under the aggregate, when the shape is rewritable:
    * a latest-pin graft scan, optionally under a pure column-pruning
    * Project and/or ONE deterministic residual Filter (r13: a WHERE that
    * references only grouping keys COMMUTES with the view — filter the
    * view's one-row-per-group rows instead; whether the predicate is
    * key-only is decided at rewrite time against the registration).
    * Pushed predicates at the scan are allowed only when that residual
    * Filter is present: the graft source pushes filters for PRUNING and
    * always keeps the full predicate as the residual (handledFilters
    * stays empty — checked — so nothing was dropped from the plan);
    * with no residual Filter, any pushed state still disqualifies.
    */
  private def scanBaseOf(p: LogicalPlan): Option[(String, Option[Expression])] = {
    def strip(p: LogicalPlan,
              cond: Option[Expression]): Option[(String, Option[Expression])] =
      p match {
        case r: DataSourceV2ScanRelation if r.relation.table.isInstanceOf[GraftTable] =>
          val t = r.relation.table.asInstanceOf[GraftTable]
          val untouched = r.scan match {
            case w: V1ScanWrapper =>
              w.pushedDownOperators.aggregation.isEmpty &&
                w.pushedDownOperators.limit.isEmpty &&
                w.pushedDownOperators.sample.isEmpty &&
                // The graft source's pushFilters returns EVERY filter as
                // residual (GraftDataSource.pushFilters — pruning-only
                // pushdown), so handledFilters/pushedPredicates entries
                // are always duplicated in the residual Filter we
                // captured; with no captured Filter, any pushed state
                // means a predicate the plan no longer shows — refuse.
                (cond.isDefined ||
                  (w.handledFilters.isEmpty &&
                    w.pushedDownOperators.pushedPredicates.isEmpty))
            case _ => false
          }
          if (untouched && t.tablePin == Snapshots.Pin.Latest)
            Some((t.tableBase, cond))
          else None
        case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
          strip(child, cond)
        case Filter(c, child) if cond.isEmpty && c.deterministic =>
          strip(child, Some(c))
        case _ => None
      }
    strip(p, None)
  }

  private def regsOf(base: String): Seq[Reg] =
    TableProps.read(base).toSeq.collect {
      case (k, v) if k.startsWith(PropPrefix) => v.split('\t')
    }.collect {
      case Array(view, keys, valCol) =>
        Reg(view, keys.split(',').map(_.trim).filter(_.nonEmpty).toSeq, valCol)
    }

  /** The view covers the source's CURRENT version: its newest
    * watermark-bearing commit (MatView's `append:vN` / `merge:vN` mode
    * tag) names exactly `versions(src).max`.
    */
  private def fresh(view: String, srcBase: String): Boolean = try {
    val srcV = Snapshots.versions(srcBase).max
    Snapshots.versions(view).sorted.reverse.iterator
      .map(v => Snapshots.modeOf(view, v))
      .collectFirst { case m if m.matches("(append|merge):\\d+") =>
        m.split(':')(1).toLong }
      .contains(srcV)
  } catch { case _: Exception => false }

  /** What a user output column asks for, in view-column terms. */
  private sealed trait Target
  private case class KeyCol(name: String) extends Target
  private case object NRows extends Target
  private case object SumV extends Target
  private case object AvgV extends Target
  private case object MinV extends Target
  private case object MaxV extends Target

  private def nameOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def targetOf(ne: NamedExpression, keys: Set[String], valCol: String,
                       hasMinMax: Boolean): Option[Target] = {
    def ofExpr(e: Expression): Option[Target] = e match {
      case a: AttributeReference if keys(a.name) => Some(KeyCol(a.name))
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case c: Count if c.children.sizeIs == 1 =>
            c.children.head match {
              case l: Literal if l.value != null => Some(NRows)
              case _ => None
            }
          case s: Sum if nameOf(s.child).contains(valCol) => Some(SumV)
          case a: Average if nameOf(a.child).contains(valCol) &&
              ne.dataType == DoubleType => Some(AvgV)
          case m: Min if hasMinMax && nameOf(m.child).contains(valCol) =>
            Some(MinV)
          case m: Max if hasMinMax && nameOf(m.child).contains(valCol) =>
            Some(MaxV)
          case _ => None
        }
      case _ => None
    }
    ne match {
      case a: AttributeReference => ofExpr(a)
      case al: Alias => ofExpr(al.child)
      case _ => None
    }
  }

  private def rewrite(spark: SparkSession, agg: Aggregate, base: String,
                      cond: Option[Expression]): Option[LogicalPlan] = {
    val regs = regsOf(base)
    if (regs.isEmpty) return None
    val groupNames = agg.groupingExpressions.flatMap(nameOf)
    if (groupNames.size != agg.groupingExpressions.size) return None
    regs.iterator.flatMap { reg =>
      // A residual WHERE commutes with the view ONLY when it references
      // nothing but grouping keys (the VIEW's keys — for a rollup the
      // predicate may name a key the output no longer groups on, and
      // filtering the fine-grained view rows before re-aggregation is
      // still exact): key-filtering the one-row-per-group view rows
      // selects exactly the groups the filtered source would have
      // formed, with identical contents. Any value-column reference
      // changes group CONTENTS — fall back.
      val keyOnlyFilter =
        cond.forall(_.references.forall(a => reg.keys.contains(a.name)))
      // r14: a GROUP BY on a PROPER SUBSET of the view's keys (including
      // the empty set — a global aggregate) is answered by RE-AGGREGATING
      // the view: count(*) = sum(n_rows), sum(v) = sum(sum_v),
      // avg(v) = sum(sum_v)/sum(n_rows), min/max(v) = min/max over the
      // per-group extrema — the mergeable-state property that makes the
      // view's columns partial aggregates. The aggregate's shuffle
      // remains, but over one-row-per-fine-group view rows instead of
      // the fact table.
      val subset = groupNames.toSet.subsetOf(reg.keys.toSet)
      val exact = groupNames.toSet == reg.keys.toSet
      if (!subset || !keyOnlyFilter) None
      else {
        // min/max availability is the view's stored schema — metadata-only
        val hasMinMax =
          try Snapshots.currentSchema(reg.view).exists(_.fieldNames.contains("min_v"))
          catch { case _: Exception => false }
        val targets = agg.aggregateExpressions
          .map(ne => targetOf(ne, reg.keys.toSet, reg.valCol, hasMinMax))
        if (targets.exists(_.isEmpty) || !fresh(reg.view, base)) None
        else if (exact) Some(substitute(spark, agg, reg, targets.map(_.get), cond))
        else Some(rollup(spark, agg, reg, targets.map(_.get), cond))
      }
    }.take(1).toSeq.headOption
  }

  /** Build the replacement: the view's OPTIMIZED read (pushdown already
    * ran for this query, so a raw relation would never be planned) under
    * a projection that re-publishes the aggregate's exact output
    * attributes — names, types and exprIds — so every downstream operator
    * resolves unchanged.
    */
  private def substitute(spark: SparkSession, agg: Aggregate, reg: Reg,
                         targets: Seq[Target],
                         cond: Option[Expression]): LogicalPlan = {
    val needed = targets.map {
      case KeyCol(n) => n
      case NRows => "n_rows"
      case SumV => "sum_v"
      case AvgV => "sum_v"
      case MinV => "min_v"
      case MaxV => "max_v"
    }.distinct ++ (if (targets.contains(AvgV)) Seq("n_rows") else Nil) ++
      // key columns the residual filter needs but the SELECT list doesn't
      cond.toSeq.flatMap(_.references.toSeq.map(_.name))
    val viewRead = spark.read.format("graft").load(reg.view)
      .select(needed.distinct.map(org.apache.spark.sql.functions.col): _*)
      .queryExecution.optimizedPlan
    // the keyed WHERE re-targets the view's one-row-per-group rows: same
    // predicate, attributes re-bound by name onto the view's key columns
    val viewPlan = cond.fold(viewRead) { c =>
      val vByName = viewRead.output.map(a => a.name -> a).toMap
      Filter(c.transform {
        case a: AttributeReference => vByName(a.name)
      }, viewRead)
    }
    val byName = viewPlan.output.map(a => a.name -> a).toMap
    def cast(e: Expression, dt: DataType): Expression =
      if (e.dataType == dt) e else Cast(e, dt)
    val projs = agg.aggregateExpressions.zip(targets).map { case (ne, t) =>
      val e: Expression = t match {
        case KeyCol(n) => cast(byName(n), ne.dataType)
        case NRows => cast(byName("n_rows"), ne.dataType)
        case SumV => cast(byName("sum_v"), ne.dataType)
        case MinV => cast(byName("min_v"), ne.dataType)
        case MaxV => cast(byName("max_v"), ne.dataType)
        case AvgV => Divide(Cast(byName("sum_v"), DoubleType),
          Cast(byName("n_rows"), DoubleType))
      }
      Alias(e, ne.name)(exprId = ne.exprId)
    }
    logInfo(s"graft MV rewrite: aggregate over $reg answered from the view")
    Project(projs, viewPlan)
  }

  /** The partial-key form of [[substitute]]: a real Aggregate over the
    * view, with each user output re-expressed over the view's mergeable
    * state. Exactness: counts/min/max merge exactly by definition;
    * double sums re-associate — the same reordering ANY Spark plan
    * change already implies (shuffle order is unspecified), so the
    * contract is Spark's own, not a weaker one. The derived avg divides
    * the two exact totals, so it is the true mean, not a mean of means.
    */
  private def rollup(spark: SparkSession, agg: Aggregate, reg: Reg,
                     targets: Seq[Target],
                     cond: Option[Expression]): LogicalPlan = {
    // grouping keys may be absent from the SELECT list (legal SQL:
    // `SELECT sum(v) ... GROUP BY k1`) — the view read must still
    // project them or groupAttrs below cannot resolve
    val needed = targets.flatMap {
      case KeyCol(n) => Seq(n)
      case NRows => Seq("n_rows")
      case SumV => Seq("sum_v")
      case AvgV => Seq("sum_v", "n_rows")
      case MinV => Seq("min_v")
      case MaxV => Seq("max_v")
    } ++ agg.groupingExpressions.flatMap(nameOf) ++
      cond.toSeq.flatMap(_.references.toSeq.map(_.name))
    val viewRead = spark.read.format("graft").load(reg.view)
      .select(needed.distinct.map(org.apache.spark.sql.functions.col): _*)
      .queryExecution.optimizedPlan
    val viewPlan = cond.fold(viewRead) { c =>
      val vByName = viewRead.output.map(a => a.name -> a).toMap
      Filter(c.transform {
        case a: AttributeReference => vByName(a.name)
      }, viewRead)
    }
    val byName = viewPlan.output.map(a => a.name -> a).toMap
    def cast(e: Expression, dt: DataType): Expression =
      if (e.dataType == dt) e else Cast(e, dt)
    def sumOf(c: String): Expression =
      Sum(byName(c)).toAggregateExpression()
    val outs = agg.aggregateExpressions.zip(targets).map { case (ne, t) =>
      val e: Expression = t match {
        case KeyCol(n) => cast(byName(n), ne.dataType)
        // count(*) over an empty table is 0 while sum over no rows is
        // NULL — coalesce so the empty-view global rollup stays exact
        case NRows =>
          cast(Coalesce(Seq(sumOf("n_rows"), Literal(0L))), ne.dataType)
        case SumV => cast(sumOf("sum_v"), ne.dataType)
        case AvgV => Divide(Cast(sumOf("sum_v"), DoubleType),
          Cast(sumOf("n_rows"), DoubleType))
        case MinV => cast(Min(byName("min_v")).toAggregateExpression(), ne.dataType)
        case MaxV => cast(Max(byName("max_v")).toAggregateExpression(), ne.dataType)
      }
      Alias(e, ne.name)(exprId = ne.exprId)
    }
    val groupAttrs = agg.groupingExpressions.flatMap(nameOf).map(byName)
    logInfo(s"graft MV rollup rewrite: partial-key aggregate over $reg " +
      "answered by re-aggregating the view")
    Aggregate(groupAttrs, outs, viewPlan)
  }
}
