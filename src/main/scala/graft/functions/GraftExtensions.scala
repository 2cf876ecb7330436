package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The one module that registers graft's planner pieces with Catalyst.
  * graft needs it in every session, as Delta and Iceberg need theirs:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  * }}}
  *
  * or a session from [[graft.GraftSession.create]], which sets that conf.
  * A session without it reads graft tables but plans them without graft's
  * rules: no manifest statistics, no MV rewrite, no SQL MERGE/UPDATE, no
  * `fnv64`/`ngrams`.
  *
  * Each piece is registered once, where it fires:
  *  - native functions (`fnv64`, `ngrams`), from the first query;
  *  - planner strategies [[graft.plans.TopKPerKeyStrategy]] (the (c)-tier
  *    custom LogicalPlan/SparkPlan pair) and
  *    [[graft.connector.GraftMergeStrategy]] (SQL MERGE/UPDATE/DELETE as
  *    DV merges); every other operator is deliberately expressible in
  *    stock Catalyst plans, SURVEY.md §4;
  *  - [[graft.connector.ResolveGraftViews]] in the analyzer's resolution
  *    batch;
  *  - [[graft.plans.TopKRewriteRule]] in the operator-optimization batches,
  *    ahead of Spark's "Infer window group limit" batch;
  *  - [[graft.connector.StatsPropagationRule]], then
  *    [[graft.connector.MvRewriteRule]], in the "User Provided Optimizers"
  *    batch (`experimental.extraOptimizations`). Both match
  *    `DataSourceV2ScanRelation`, which exists only after the "Early Filter
  *    and Projection Push-Down" batch, and Spark has no extension point
  *    after push-down: an `injectOptimizerRule` copy would sit in the
  *    operator-optimization batches and never fire.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectPlannerStrategy(_ => graft.connector.GraftMergeStrategy)
    // Auto-rewrite Filter(row_number <= k, Window(...)) into the bounded-
    // heap operator, so plain window-top-k user queries get the pruned
    // exchange without calling the TopK API.
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
    // The check-rule builder runs once per session state, when its
    // analyzer is built — before that session optimizes anything, and
    // again for every newSession()/cloneSession(). It is only a hook to
    // reach the session's experimental methods; the check itself is a
    // no-op. StatsPropagationRule re-exposes V1Scan statistics hidden by
    // V1ScanWrapper (graft scans feed real sizes into join selection);
    // MvRewriteRule answers a GROUP BY over a fresh registered view from
    // the view table.
    ext.injectCheckRule { session =>
      val exp = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
      exp.synchronized {
        val missing = Seq(graft.connector.StatsPropagationRule, graft.connector.MvRewriteRule)
          .filterNot(exp.extraOptimizations.contains)
        if (missing.nonEmpty) exp.extraOptimizations = exp.extraOptimizations ++ missing
      }
      _ => ()
    }
    // SELECT from warehouse-persisted v2 views (stock Spark resolves
    // views only in the session catalog).
    ext.injectResolutionRule(s => graft.connector.ResolveGraftViews(s))
    ext.injectFunction((
      FunctionIdentifier("fnv64"),
      new ExpressionInfo(classOf[FnvHash64].getName, "fnv64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        FnvHash64(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("ngrams"),
      new ExpressionInfo(classOf[NGrams].getName, "ngrams"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        NGrams(exprs.head, exprs(1))))
  }
}
