package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.{TopK, TopKPerKeyExec}

/** Contracts of the custom TopKPerKey operator (logical node + strategy +
  * two-phase heap exec): result equivalence with the window formulation,
  * the partial→exchange→final plan shape, and edge geometry.
  */
class TopKSpec extends SparkSuite {

  private def orders = graft.tables.Tables.table(spark, sf, "orders")
    .select(col("o_orderpriority"), col("o_orderkey"),
      round(col("o_totalprice"), 2).as("price"))

  test("kept set equals the window row_number formulation") {
    val native = TopK.perKey(orders, Seq("o_orderpriority"),
        Seq(("price", true), ("o_orderkey", false)), 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("price").desc, col("o_orderkey"))
    val windowed = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(native === windowed)
  }

  test("plans partial and final heap phases around one exchange") {
    val df = TopK.perKey(orders, Seq("o_orderpriority"),
      Seq(("price", true), ("o_orderkey", false)), 3)
    df.collect()
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val extra = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ extra).flatMap(flatten)
    }
    val nodes = flatten(df.queryExecution.executedPlan)
    val topks = nodes.collect { case t: TopKPerKeyExec => t }
    assert(topks.map(_.partial).sorted === Seq(false, true),
      s"expected one partial and one final TopKPerKeyExec:\n${df.queryExecution.executedPlan}")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      "expected an exchange between the phases")
  }

  test("rewrite rule fires for every bound form and keeps window results") {
    // All limit spellings the rule claims to match — rn <= k, rn < k,
    // rn = 1, literal-on-left, and a conjunction with an unrelated
    // predicate — must produce the heap exec AND the exact rows of the
    // un-rewritten window formulation.
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val ranked = graft.tables.Tables.table(spark, sf, "orders")
      .withColumn("rn", row_number().over(w))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Int)] = {
      df.collect().map(r => (r.getAs[String]("o_orderpriority"),
        r.getAs[Long]("o_orderkey"), r.getAs[Int]("rn"))).toSet
    }
    def hasHeap(df: org.apache.spark.sql.DataFrame): Boolean = {
      df.collect()
      df.queryExecution.executedPlan.toString.contains("TopKPerKey")
    }
    val forms: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "rn <= 3" -> ranked.filter(col("rn") <= 3),
      "rn < 4" -> ranked.filter(col("rn") < 4),
      "rn = 1" -> ranked.filter(col("rn") === 1),
      "3 >= rn" -> ranked.filter(lit(3) >= col("rn")),
      "conjunction" -> ranked.filter(col("rn") <= 3 && col("o_orderkey") >= 0))
    // Reference kept sets computed WITHOUT the rule: row_number over the
    // same total order is deterministic, so compare against a plain
    // collect-side filter of the full ranking.
    val full = ranked.collect().map(r => (r.getAs[String]("o_orderpriority"),
      r.getAs[Long]("o_orderkey"), r.getAs[Int]("rn")))
    for ((name, df) <- forms) {
      val expectK = if (name == "rn = 1") 1 else 3
      assert(hasHeap(df), s"$name did not plan TopKPerKeyExec")
      assert(rows(df) === full.filter(_._3 <= expectK).toSet, s"$name rows differ")
    }
  }

  test("partial-phase key cap: over-cap rows pass through, result unchanged") {
    // With the map capped at 1 key per partition, almost every row passes
    // through the partial phase unpruned — the final phase must still
    // produce exactly the window formulation's kept set.
    spark.conf.set("spark.graft.topk.maxPartialKeys", "1")
    try {
      val capped = TopK.perKey(orders, Seq("o_orderpriority"),
          Seq(("price", true), ("o_orderkey", false)), 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("price").desc, col("o_orderkey"))
      val windowed = orders.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(capped === windowed)
    } finally spark.conf.unset("spark.graft.topk.maxPartialKeys")
  }

  test("duplicate column names are refused, not silently bound") {
    // Self-joins and un-aliased projections produce frames with repeated
    // names; binding "the first match" would silently order by the wrong
    // attribute, so perKey must refuse instead.
    val dup = orders.select(col("o_orderkey").as("x"),
      col("price").as("x"), col("o_orderpriority"))
    val e = intercept[IllegalArgumentException] {
      TopK.perKey(dup, Seq("o_orderpriority"), Seq(("x", true)), 2)
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("k larger than every group keeps all rows; multi-key grouping works") {
    val s = spark
    import s.implicits._
    val tiny = Seq(("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0))
      .toDF("g", "id", "v")
    val all = TopK.perKey(tiny, Seq("g"), Seq(("v", true), ("id", false)), 10)
    assert(all.count() === 3)
    val two = TopK.perKey(
      orders.withColumn("bucket", pmod(col("o_orderkey"), lit(2))),
      Seq("o_orderpriority", "bucket"),
      Seq(("price", true), ("o_orderkey", false)), 2)
    val perGroup = two.groupBy(col("o_orderpriority"), col("bucket"))
      .count().collect().map(_.getLong(2))
    assert(perGroup.nonEmpty && perGroup.forall(_ <= 2))
  }
}
