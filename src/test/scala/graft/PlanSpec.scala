package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.FileSourceScanExec

/** Physical-plan shape assertions: the properties that make these plans
  * survive a 100× scale-up — dimension joins broadcast, fact predicates
  * push into scans, no accidental cartesians, bounded shuffle counts.
  * (The reference's two optimizations — partition pruning + zone-map skip —
  * are asserted in IngestQuerySpec; this covers the extension surface.)
  */
class PlanSpec extends SparkSuite {

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // force execution so AQE finalizes the plan
    df.queryExecution.executedPlan
  }

  /** Flatten including AQE wrappers: QueryStageExec nodes are leaf-like
    * (children = Nil) and hide their materialized plan behind `.plan`.
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case _ => Nil
    }
    p +: (p.children ++ extra ++ p.subqueries).flatMap(flatten)
  }

  private def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    flatten(p).collect(pf)

  private def run(name: String): SparkPlan =
    executed(SparkEntry.queries(name)(spark, sf))

  test("j1: dimension join is a broadcast hash join (no fact shuffle for the join)") {
    val plan = run("j1_join_broadcast")
    assert(collectAll(plan) { case b: BroadcastHashJoinExec => b }.nonEmpty)
  }

  test("j2: all four dimension sides broadcast; only fact-fact shuffles") {
    val plan = run("j2_join_multiway")
    val bhj = collectAll(plan) { case b: BroadcastHashJoinExec => b }
    assert(bhj.size >= 4, s"expected >=4 broadcast joins, got ${bhj.size}")
  }

  test("j5/j7: theta and range joins never degrade to cartesian product") {
    for (q <- Seq("j5_theta_join", "j7_range_join")) {
      val plan = run(q)
      assert(collectAll(plan) { case c: CartesianProductExec => c }.isEmpty, q)
      assert(collectAll(plan) { case b: BroadcastNestedLoopJoinExec => b }.isEmpty, q)
    }
  }

  test("round-9 joins/windows keep their intended physical shapes") {
    // j16: interval overlap rides the equi prefix — hash join, never a
    // cartesian/nested-loop product
    val j16 = run("j16_interval_overlap")
    assert(collectAll(j16) { case c: CartesianProductExec => c }.isEmpty)
    assert(collectAll(j16) { case b: BroadcastNestedLoopJoinExec => b }.isEmpty)
    // v7: the per-bucket cap auto-rewrites to the bounded-heap operator
    val v7 = run("v7_balanced_sample")
    assert(collectAll(v7) { case t: graft.plans.TopKPerKeyExec => t }.nonEmpty,
      s"v7 window not rewritten to TopKPerKeyExec:\n$v7")
    // s5: exact-n sampling is TakeOrderedAndProject, not a global sort
    val s5 = run("s5_exact_sample")
    assert(collectAll(s5) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"s5 missing TakeOrderedAndProject:\n$s5")
  }

  test("q2: filter predicates reach the parquet scan") {
    val plan = run("q2_revenue_filter")
    val pushed = collectAll(plan) { case s: FileSourceScanExec => s }
      .flatMap(_.metadata.get("PushedFilters"))
    assert(pushed.exists(f => f.contains("l_discount") && f.contains("l_quantity")),
      s"filters not pushed: $pushed")
  }

  test("q1: aggregation is partial+final (map-side combine before shuffle)") {
    val plan = run("q1_pricing_summary")
    val aggModes = collectAll(plan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        a.aggregateExpressions.map(_.mode).distinct
    }.flatten
    assert(aggModes.exists(_.toString == "Partial") && aggModes.exists(_.toString == "Final"),
      s"agg modes: $aggModes")
  }

  test("scans prune columns: q1 reads only the columns it needs") {
    val plan = run("q1_pricing_summary")
    val schemas = collectAll(plan) { case s: FileSourceScanExec => s.requiredSchema }
    assert(schemas.nonEmpty)
    // lineitem has 16 columns; q1 needs 6.
    assert(schemas.forall(_.size <= 6), s"read schema too wide: $schemas")
  }

  test("s1: global top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = run("s1_topk")
    val hasTopK = collectAll(plan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty
    assert(hasTopK, s"no TakeOrderedAndProject in:\n$plan")
  }

  test("single-pass queries shuffle at most once per aggregation level") {
    val plan = run("ts1_tumbling_window")
    val shuffles = collectAll(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"expected <=1 shuffle, got ${shuffles.size}")
  }

  test("h3: dimension filter broadcasts and top-10 is TakeOrderedAndProject") {
    val plan = run("h3_shipping_priority")
    assert(collectAll(plan) { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "customer side should broadcast")
    assert(collectAll(plan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"no TakeOrderedAndProject in:\n$plan")
  }

  test("h4: correlated EXISTS decorrelates to a semi join (no subquery per row)") {
    val plan = run("h4_order_priority")
    val semis = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType.toString == "LeftSemi" => j
    }
    assert(semis.nonEmpty, s"no LeftSemi join in:\n$plan")
  }

  test("s2: deterministic hash-sample filter reaches the scan as a data filter") {
    val plan = run("s2_hash_sample")
    // md5 isn't pushable into parquet, but the filter must still run
    // pre-shuffle (a simple FilterExec over the scan, no exchange).
    val shuffles = collectAll(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, s"sampling should be map-side only, got ${shuffles.size} shuffles")
  }

  test("x4: unpivot is map-side only (no shuffle)") {
    val plan = run("x4_unpivot")
    val shuffles = collectAll(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, s"unpivot should not shuffle, got ${shuffles.size}")
  }

  /** Flatten WITHOUT descending into ReusedExchangeExec children, so a
    * reused subtree's scans are not double-counted: what remains is the
    * set of operators that actually execute.
    */
  private def flattenExecutedOnce(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Nil
      case _ => Nil
    }
    p +: (p.children ++ extra ++ p.subqueries).flatMap(flattenExecutedOnce)
  }

  private def lineitemScanCount(plan: SparkPlan): Int =
    flattenExecutedOnce(plan).count {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toString.contains("lineitem"))
      case _ => false
    }

  test("twice-referenced aggregate CTEs evaluate their fact scan once") {
    // Each of these CTEs feeds both a join and a scalar subquery. The
    // CORRELATED subquery forms (h2/h15/h20 originally) decorrelate into a
    // second full evaluation — fixed by window rewrites; h11's UNCORRELATED
    // scalar gets exchange reuse from Spark and is pinned here so that
    // reuse can never silently regress. Two fact scans at 100 TB is a full
    // extra pass — this asserts exactly one executes for all four.
    for (q <- Seq("h2_min_cost_supplier", "h15_top_supplier", "h20_promo_suppliers", "h11_important_stock")) {
      val plan = run(q)
      val scans = lineitemScanCount(plan)
      assert(scans == 1, s"$q: expected 1 executed lineitem scan, got $scans:\n$plan")
    }
  }

  test("w1: window top-k auto-rewrites to the bounded-heap operator") {
    // TopKRewriteRule (injected by GraftExtensions) must turn the
    // row_number-filter idiom into partial→exchange→final TopKPerKeyExec,
    // with the Window retained above (for the rn column) over <= k rows
    // per key — so the exchange carries a keys-sized, not corpus-sized,
    // row count.
    val plan = run("w1_rank_topn")
    val topks = collectAll(plan) { case t: graft.plans.TopKPerKeyExec => t }
    assert(topks.map(_.partial).sorted == Seq(false, true),
      s"expected partial+final TopKPerKeyExec in w1's plan:\n$plan")
    val shuffled = collectAll(plan) { case e: ShuffleExchangeExec => e }
      .flatMap(_.metrics.get("shuffleRecordsWritten")).map(_.value)
    val totalOrders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(shuffled.nonEmpty && shuffled.forall(_ < totalOrders),
      s"exchange should carry pruned rows, got $shuffled of $totalOrders")
  }

  test("scalar-function hot paths run inside whole-stage codegen") {
    // map-side projection queries must be one codegen span over the scan —
    // an interpreted expression in these paths costs 10-100x at 100 TB.
    for (q <- Seq("f1_string_fns", "f3_math_fns", "f7_conditional_fns", "f13_bitwise")) {
      val plan = run(q)
      val spans = collectAll(plan) {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
      assert(spans.nonEmpty, s"$q has no WholeStageCodegen span:\n$plan")
    }
  }
}
