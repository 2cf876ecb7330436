package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Whole-registry plan audit: every registered query's finalized physical
  * plan is checked against the invariants that decide 100 TB survival.
  * A new operator that accidentally plans a cartesian product or an
  * unhinted nested-loop join fails here, not on the cluster.
  */
class PlanAuditSpec extends SparkSuite {

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case _ => Nil
    }
    p +: (p.children ++ extra ++ p.subqueries).flatMap(flatten)
  }

  // the one deliberate cartesian (tiny dim × tiny dim)
  private val cartesianOk = Set("j9_cross_join", "d4b_simhash_gate")
  // tiny-side nested loops Catalyst picks for dim×dim shapes are fine when
  // explicitly intended; everything else must justify itself here.
  // d4b is a validation-only gate whose brute-force all-pairs hamming pass
  // is quadratic BY DESIGN (it exists to check d4's banding against brute
  // force); the production path is d4's banded join.
  private val nestedLoopOk = Set("j9_cross_join", "d4b_simhash_gate")

  /** A BroadcastNestedLoopJoin is NOT scale-hostile when its broadcast side
    * is provably one row — a global (groupless) aggregate: the "nested
    * loop" degenerates to appending constants to each streamed row (the
    * scalar-total pattern t6/mix1 use to avoid a separate count() action).
    * Anything wider on the build side keeps failing the audit.
    */
  private def singleRowBroadcast(b: BroadcastNestedLoopJoinExec): Boolean = {
    val buildSide = b.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
      case _ => b.left
    }
    flatten(buildSide).exists {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.groupingExpressions.isEmpty
      case _ => false
    }
  }

  test("no registered query plans an unintended cartesian / nested-loop join") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, sf)
      df.collect() // finalize AQE
      val nodes = flatten(df.queryExecution.executedPlan)
      val cart = nodes.collect { case c: CartesianProductExec => c }
      val bnlj = nodes.collect { case b: BroadcastNestedLoopJoinExec => b }
        .filterNot(singleRowBroadcast)
      // Comparator contract (r14 seq1 regression class): the driver's
      // pandas gate cannot sort complex-typed cells, so no registered
      // query may emit one — serialize (array_join/to_json) instead.
      val complex = ComparatorContract.complexColumns(df.schema)
      val bad =
        (if (cart.nonEmpty && !cartesianOk(name)) Seq(s"$name: CartesianProduct") else Nil) ++
        (if (bnlj.nonEmpty && !nestedLoopOk(name)) Seq(s"$name: BroadcastNestedLoopJoin") else Nil) ++
        (if (complex.nonEmpty)
          Seq(s"$name: complex-typed output [${complex.mkString("; ")}]") else Nil)
      bad
    }
    assert(offenders.isEmpty, s"scale-hostile plans:\n${offenders.mkString("\n")}")
  }

  test("the comparator-contract guard flags a synthetic array-emitting entry") {
    // Positive control for the guard above: without it a green audit could
    // mean the detector is blind, not that the registry is clean.
    import org.apache.spark.sql.functions._
    val bad = spark.range(3).select(col("id"), array(lit("a"), lit("b")).as("seq"),
      map(lit("k"), lit(1)).as("m"), struct(lit(1).as("x")).as("st"))
    val flagged = ComparatorContract.complexColumns(bad.schema)
    assert(flagged === Seq("seq: array<string>", "m: map<string,int>", "st: struct<x:int>"))
    // the serialized form every registered query must use passes
    val good = bad.select(col("id"), array_join(col("seq"), "|").as("seq"),
      to_json(col("m")).as("m"), to_json(col("st")).as("st"))
    assert(ComparatorContract.complexColumns(good.schema).isEmpty)
  }

  test("t11_bigrams plans a TakeOrderedAndProject (no global sort)") {
    val df = graft.ops.Quality.queries("t11_bigrams")(spark, sf)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"expected top-k plan, got:\n${df.queryExecution.executedPlan}")
  }

  test("t19_gopher_rules is entirely map-side (zero exchanges)") {
    val df = graft.ops.Quality.queries("t19_gopher_rules")(spark, sf)
    df.collect()
    val shuffles = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"quality rules must push into the scan:\n${df.queryExecution.executedPlan}")
  }

  test("t21_pii_redact is entirely map-side (zero exchanges)") {
    // redaction is one projection over the scan — a shuffle here would
    // mean the regex work picked up an accidental repartition
    val df = graft.ops.Quality.queries("t21_pii_redact")(spark, sf)
    df.collect()
    val shuffles = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"PII redaction must push into the scan:\n${df.queryExecution.executedPlan}")
  }

  test("t23_blocklist_filter is entirely map-side (zero exchanges)") {
    // bigram build + list membership are native HOFs over the scan — a
    // shuffle would mean the literal blocklist became a join
    val df = graft.ops.Quality.queries("t23_blocklist_filter")(spark, sf)
    df.collect()
    val shuffles = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"blocklist filter must push into the scan:\n${df.queryExecution.executedPlan}")
  }

  test("pack3_bin_packing moves data exactly once (the shard shuffle)") {
    val df = graft.ops.Packing.queries("pack3_bin_packing")(spark, sf)
    df.collect()
    val shuffles = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size === 1,
      s"expected one shard shuffle, got ${shuffles.size}:\n${df.queryExecution.executedPlan}")
  }

  test("seq1_user_sequences shuffles on user exactly once (window feeds the collect)") {
    // the rank window and the grouped collect share the user hash
    // partitioning — a second exchange would mean the aggregate ignored
    // the window's distribution
    val df = graft.ops.Behavior.queries("seq1_user_sequences")(spark, sf)
    df.collect()
    val shuffles = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size === 1,
      s"expected one user shuffle, got ${shuffles.size}:\n${df.queryExecution.executedPlan}")
  }

  test("sft1_conversation_build shuffles on user exactly once (windows + collect share it)") {
    // lag window (user), running-sum session id (user), turn-count window
    // (user, sess) and the grouped collect (user, sess) all ride the user
    // hash partitioning — hash(user) satisfies ClusteredDistribution of
    // every (user, …) key downstream, so only sorts are added
    val df = graft.ops.Behavior.queries("sft1_conversation_build")(spark, sf)
    df.collect()
    val shuffles = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size === 1,
      s"expected one user shuffle, got ${shuffles.size}:\n${df.queryExecution.executedPlan}")
  }

  test("pref1_preference_pairs shuffles on source exactly once (both rank windows share it)") {
    val df = graft.ops.Quality.queries("pref1_preference_pairs")(spark, sf)
    df.collect()
    val shuffles = flatten(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size === 1,
      s"expected one source shuffle, got ${shuffles.size}:\n${df.queryExecution.executedPlan}")
  }

  test("j18_salted_join broadcasts the replicated dimension side") {
    val df = graft.ops.Relational.queries("j18_salted_join")(spark, sf)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"salted dim side must broadcast:\n${df.queryExecution.executedPlan}")
  }

  test("j13_bloom_join prunes the fact scan before a broadcast join") {
    val df = graft.ops.Relational.queries("j13_bloom_join")(spark, sf)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    // The Bloom membership test must sit fact-side (a Filter over the
    // lineitem scan) as the native codegen'd expression — not a UDF — and
    // the join itself must broadcast the dimension, i.e. the shuffle that
    // the bloom prunes is the only data movement.
    val bloomFilter = nodes.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.exists(_.isInstanceOf[graft.functions.BloomMightContain]) => f
    }
    assert(!nodes.exists {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.toString.contains("UDF")
      case _ => false
    }, "bloom probe must not be a UDF")
    assert(bloomFilter.nonEmpty, "no bloom-membership Filter in the plan")
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"expected broadcast hash join:\n${df.queryExecution.executedPlan}")
  }
}
