package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule that turns the universal per-key top-k idiom —
  *
  * {{{ Filter(row_number <= k, Window(row_number() OVER (PARTITION BY p ORDER BY o))) }}}
  *
  * — into the bounded-heap [[TopKPerKeyNode]] UNDER the window, so the
  * operator applies to ordinary user queries (w1's shape), not only to
  * callers of the explicit [[TopK.perKey]] API:
  *
  * {{{
  *   Filter(rn <= k)
  *     +- Window(row_number ...)      // now over <= k rows per key
  *        +- TopKPerKeyNode(k, p, o)  // partial heaps -> tiny exchange -> final
  * }}}
  *
  * Keeping the Window (over the pruned, keys-sized remainder) preserves the
  * output schema — the rn column survives for downstream projections — while
  * the data-sized work moves into the heap operator: only <= k rows per
  * (partition, key) reach the exchange, vs the window formulation's full
  * corpus sort-exchange. The final TopKPerKeyExec's hash partitioning
  * satisfies the window's ClusteredDistribution requirement, so no second
  * exchange appears (EnsureRequirements adds just a partition-local sort).
  *
  * Soundness bounds the match:
  *  - exactly ONE window expression, and it is row_number() — any other
  *    window function must see the full partition;
  *  - the filter keeps a prefix of the per-key order: a conjunct
  *    `rn <= k` / `rn < k` / `rn = 1` over the row_number output (other
  *    conjuncts stay in the Filter and apply after);
  *  - the window ORDER BY is non-empty (row_number over an unordered
  *    partition is nondeterministic either way, but the heap needs an
  *    ordering to prune by).
  * Ties beyond position k are kept arbitrarily, exactly like the window
  * formulation (deterministic iff the ordering is total) — TopKSpec pins
  * set-equality under a total order.
  *
  * Spark's own InferWindowGroupLimit (enabled by default) inserts a
  * [[WindowGroupLimit]] below the window for this same pattern BEFORE user
  * rules run; it is a rank-pruning pass-through with the same keys/order/
  * limit, strictly subsumed by the heap operator, so the rule strips it
  * rather than stacking the two.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  /** k such that `cond` == "rank <= k", if `cond` is such a bound on `rn`. */
  private def limitOf(cond: Expression, rn: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.exprId == rn => Some(k)
    case LessThan(a: Attribute, IntegerLiteral(k)) if a.exprId == rn => Some(k - 1)
    case EqualTo(a: Attribute, IntegerLiteral(1)) if a.exprId == rn => Some(1)
    case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute) if a.exprId == rn => Some(k)
    case GreaterThan(IntegerLiteral(k), a: Attribute) if a.exprId == rn => Some(k - 1)
    case _ => None
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def isRowNumberWindow(e: NamedExpression): Option[ExprId] = e match {
    case a @ Alias(WindowExpression(RowNumber(), _), _) => Some(a.exprId)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w @ Window(Seq(we), partSpec, orderSpec, wChild, _))
        if partSpec.nonEmpty && orderSpec.nonEmpty =>
      // partSpec empty (global top-k) is TakeOrderedAndProject territory —
      // ClusteredDistribution needs clustering keys; leave it to Spark.
      (for {
        rnId <- isRowNumberWindow(we)
        k <- splitConjuncts(cond).flatMap(c => limitOf(c, rnId)).reduceOption(math.min)
        if k > 0
        // Strip the WindowGroupLimit Spark may already have inserted for
        // this exact pattern (same keys/order/limit pass-through).
        pruneChild = wChild match {
          case WindowGroupLimit(p2, o2, _, limit, gc)
            if limit >= k && p2 == partSpec && o2 == orderSpec => gc
          case other => other
        }
        // Idempotence: user rules run to fixpoint — never re-wrap.
        if !pruneChild.isInstanceOf[TopKPerKeyNode]
      } yield f.copy(child =
        w.copy(child = TopKPerKeyNode(k, partSpec, orderSpec, pruneChild))))
        .getOrElse(f)
  }
}
