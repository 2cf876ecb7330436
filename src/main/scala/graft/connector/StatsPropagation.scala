package graft.connector

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{Statistics, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, PushedDownOperators, V1ScanWrapper}

/** Spark's V1-fallback pushdown wraps a [[V1Scan]] in `V1ScanWrapper`,
  * which implements ONLY `Scan` — so a V1Scan's
  * [[SupportsReportStatistics]] is invisible to
  * `DataSourceV2ScanRelation.computeStats` (verified against the 4.1
  * bytecode: it tests the WRAPPER for the interface), and every graft
  * join would plan against the "unknown, assume huge" default no matter
  * what the scan reports. This wrapper subclass re-exposes the inner
  * scan's statistics; [[StatsPropagationRule]] swaps it in after
  * pushdown, and join selection then sees manifest-derived sizes — a
  * dimension-sized snapshot table auto-broadcasts with no hint.
  */
private[connector] class StatsV1ScanWrapper(
    v1: V1Scan with SupportsReportStatistics,
    handled: Seq[org.apache.spark.sql.sources.Filter],
    ops: PushedDownOperators)
    extends V1ScanWrapper(v1, handled, ops) with SupportsReportStatistics {
  override def estimateStatistics(): Statistics = v1.estimateStatistics()

  // The case-class equality inherited from V1ScanWrapper would make this
  // wrapper EQUAL to the plain one over the same scan — and Catalyst's
  // transform() keeps the ORIGINAL node when the rewrite compares equal
  // (fastEquals), silently discarding the swap. Equality must therefore
  // distinguish the subclasses.
  override def canEqual(that: Any): Boolean = that.isInstanceOf[StatsV1ScanWrapper]
  override def equals(that: Any): Boolean = that match {
    case s: StatsV1ScanWrapper => super.equals(s)
    case _ => false
  }
  override def hashCode(): Int = super.hashCode() + 1
}

/** Rewrites `DataSourceV2ScanRelation(scan = V1ScanWrapper(s))` where `s`
  * reports statistics into the stats-exposing wrapper. Runs in the "User
  * Provided Optimizers" batch ([[graft.functions.GraftExtensions]] puts it
  * there) — after Spark's early scan pushdown built the wrapper, before
  * join strategy reads plan statistics. A pure metadata swap: the
  * wrapped scan, pushed filters and pushed operators are untouched, so
  * physical planning (which pattern-matches `V1ScanWrapper`) proceeds
  * identically.
  */
object StatsPropagationRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case r: DataSourceV2ScanRelation => r.scan match {
      case w: V1ScanWrapper if !w.isInstanceOf[StatsV1ScanWrapper] =>
        w.v1Scan match {
          case s: V1Scan with SupportsReportStatistics =>
            r.copy(scan = new StatsV1ScanWrapper(s, w.handledFilters,
              w.pushedDownOperators))
          case _ => r
        }
      case _ => r
    }
  }
}
