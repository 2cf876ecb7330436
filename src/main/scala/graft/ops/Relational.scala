package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Relational operator catalog: aggregations, grouping sets, joins
  * (broadcast / multiway / semi / anti / theta / as-of / range), set ops.
  *
  * The reference (/root/reference) has none of these — SURVEY.md §2.2 marks
  * them absent — so they are the north-star extension surface, built on
  * stock Catalyst operators (declarative plans → pushdown, join reorder,
  * AQE, whole-stage codegen all free).
  *
  * Scale notes (100 TB design):
  *  - dimension joins broadcast the small side explicitly;
  *  - fact-fact joins are equi-key first so Catalyst picks shuffled hash /
  *    sort-merge on the key, with range predicates as residual filters —
  *    never a cartesian;
  *  - the as-of join is the union+window formulation (one shuffle+sort,
  *    no join explosion) rather than join+argmax.
  *
  * Every aggregate/computed column is aliased identically in the Spark plan
  * and the DuckDB oracle SQL (driver hash-compares by sorted column name).
  * Doubles that pass through arithmetic are round()ed on both sides so
  * summation-order ulp differences can't flip the hash.
  */
object Relational {
  private def r2(c: Column): Column = round(c, 2)
  private val DAY_US = 86400000000L // 24h in microseconds

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregations -------------------------------------------------
    "q1_pricing_summary" -> { (s, d) =>
      Tables.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          r2(sum(col("l_quantity"))).as("sum_qty"),
          r2(sum(col("l_extendedprice"))).as("sum_base_price"),
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
          r2(avg(col("l_quantity"))).as("avg_qty"),
          r2(avg(col("l_extendedprice"))).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
    "q2_revenue_filter" -> { (s, d) =>
      // Filter + single global agg; predicate must reach the parquet scan
      // (PushedFilters) — the general form of the reference's residual
      // row-range filter (block.go:117-141).
      Tables.table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(r2(sum(col("l_extendedprice") * col("l_discount"))).as("revenue"))
    },
    "q3_distinct_agg" -> { (s, d) =>
      Tables.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("distinct_suppliers"),
          countDistinct(col("l_partkey")).as("distinct_parts"),
          count(lit(1)).as("n"))
    },
    "q4_rollup" -> { (s, d) =>
      Tables.table(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), r2(sum(col("l_quantity"))).as("sum_qty"))
    },
    "q5_cube" -> { (s, d) =>
      Tables.table(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"))
    },

    // ---- joins ---------------------------------------------------------
    "j1_join_broadcast" -> { (s, d) =>
      // customer is a dimension (150k rows at sf=100) → broadcast, no shuffle
      // of the orders fact side.
      Tables.table(s, d, "orders")
        .join(broadcast(Tables.table(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), r2(sum(col("o_totalprice"))).as("revenue"))
    },
    "j2_join_multiway" -> { (s, d) =>
      // TPC-H Q5 shape: lineitem⋈orders shuffle on the fact keys; the four
      // dimension sides broadcast.
      val li = Tables.table(s, d, "lineitem")
      val o  = Tables.table(s, d, "orders")
      val c  = Tables.table(s, d, "customer")
      val sp = Tables.table(s, d, "supplier")
      val n  = Tables.table(s, d, "nation")
      val rg = Tables.table(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sp), col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(rg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
    },
    "j3_semi_join" -> { (s, d) =>
      Tables.table(s, d, "customer")
        .join(
          Tables.table(s, d, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
    "j4_anti_join" -> { (s, d) =>
      Tables.table(s, d, "customer")
        .join(
          Tables.table(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_acctbal"))
    },
    "j5_theta_join" -> { (s, d) =>
      // Theta join with an equi prefix: Catalyst hash-joins on nationkey and
      // applies acctbal> as residual — stays O(matches), never cartesian.
      Tables.table(s, d, "supplier").join(
          Tables.table(s, d, "customer"),
          col("s_nationkey") === col("c_nationkey") && col("s_acctbal") > col("c_acctbal"))
        .groupBy(col("s_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    "j6_asof_join" -> { (s, d) =>
      // As-of join (last non-purchase event preceding each purchase, per
      // user) via the union+window formulation: a single shuffle+sort per
      // user, no pairwise join — the scalable as-of at 100 TB.
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      e.withColumn("prev_event_id",
          last(when(col("event_type") =!= "purchase", col("event_id")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("prev_event_id"))
    },
    "j16_interval_overlap" -> { (s, d) =>
      // Interval-OVERLAP join (both sides are intervals - the temporal/
      // genomic overlap semantics, distinct from j7's point-in-range):
      // line items of the same order whose [shipdate, receiptdate]
      // transit windows overlap, i.e. shipments in flight concurrently.
      // Equi prefix (orderkey) makes it a hash join with the interval
      // algebra as residual; pair fan-out is bounded by per-order line
      // count (<= 7), the group-bounded all-pairs discipline of j5/j14.
      // testdata carries no receipt date; derive a deterministic transit
      // window [ship, ship + 1 + qty%20 days] (same formula in the oracle)
      val li = Tables.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          to_date(col("l_shipdate")).as("ship"),
          date_add(to_date(col("l_shipdate")),
            lit(1) + col("l_quantity").cast("int") % 20).as("receipt"))
      val pairs = li.alias("a").join(li.alias("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_linenumber") < col("b.l_linenumber") &&
          col("a.ship") <= col("b.receipt") &&
          col("b.ship") <= col("a.receipt"))
        .groupBy(col("a.l_orderkey").as("l_orderkey"))
        .agg(count(lit(1)).as("n_overlapping"))
      li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_items"))
        .filter(col("n_items") >= 2)
        .join(pairs, Seq("l_orderkey"), "left")
        .select(col("l_orderkey"), col("n_items"),
          coalesce(col("n_overlapping"), lit(0L)).as("n_overlapping"))
    },
    "j17_bucketed_join" -> { (s, d) =>
      // The co-located fact-fact join through NATIVE BUCKETING — at 100 TB
      // the single highest-leverage layout decision: both tables are
      // pre-shuffled on the join key at write time (BucketTables), so the
      // join plans with ZERO ShuffleExchange nodes even under sort-merge
      // (broadcast disabled while the pin is taken). `co_located` pins the
      // plan property into the oracle hash the way mv4 pins its rewrite:
      // a silent regression to a shuffled plan fails the row hash even
      // though the values would coincide. Table names carry the SOURCE
      // FINGERPRINT (cacheBase's key: regenerated data → new name, so a
      // stale bucketed copy can never be reused) and the data path is
      // pid-keyed (concurrent JVMs write disjoint dirs — bucketed
      // saveAsTable needs a live metastore entry, so the shared-tree
      // rename protocol the other fixtures use doesn't apply here; the
      // metastore entry is session-local either way).
      val fpBase = graft.query.Fixture.cacheBase("graft_bkt", d, "lineitem")
      val key = fpBase.substring(fpBase.lastIndexOf('/') + 1)
        .replaceAll("[^a-zA-Z0-9]", "_")
      val (lt, ot) = (s"lineitem_bkt_$key", s"orders_bkt_$key")
      if (!s.catalog.tableExists(lt)) {
        val pid = java.lang.ProcessHandle.current().pid()
        def stage(src: String, tbl: String, k: String): Unit =
          Tables.table(s, d, src).write.mode("overwrite")
            .option("path", s"${graft.query.Fixture.Tmp}/graft_bkt/pid$pid/$tbl")
            .bucketBy(8, k).sortBy(k).saveAsTable(tbl)
        stage("lineitem", lt, "l_orderkey")
        stage("orders", ot, "o_orderkey")
      }
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val coLocated = try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        // the probe frame is BUILT inside the conf override (not just
        // planned here lazily) so no earlier touch of a shared plan can
        // hand the pin an already-planned broadcast join — the pin always
        // inspects a sort-merge-eligible plan
        val probe = s.table(lt).join(s.table(ot),
          col("l_orderkey") === col("o_orderkey"))
        def flat(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] = {
          val extra = p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              Seq(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
            case _ => Nil
          }
          p +: (p.children ++ extra).flatMap(flat)
        }
        flat(probe.queryExecution.executedPlan).collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.isEmpty
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val joined = s.table(lt).join(s.table(ot),
        col("l_orderkey") === col("o_orderkey"))
      joined.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"), r2(sum(col("l_quantity"))).as("sum_qty"))
        .withColumn("co_located", lit(coLocated))
    },
    "j18_salted_join" -> { (s, d) =>
      // The SALTED equi-join (Skew.saltedJoin): the fact side gets a
      // deterministic salt in [0, 8), the dimension side replicates
      // across all salts, and the join key becomes (key, salt) — the
      // pathological-hot-key fix AQE's shuffle-partition splitting can't
      // make (one 10^8-row key at 100 TB still lands in one hash bucket
      // unless the KEY itself is spread). The oracle is the PLAIN join
      // aggregate, so the hash certifies the salting's row-identity
      // contract on real data, not just the spec's self-comparison.
      val e = Tables.events(s, d).select(col("user_id"), col("value"))
      val c = Tables.table(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      Skew.saltedJoin(e, "user_id", c, "c_custkey", numSalts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"), r2(sum(col("value"))).as("sum_v"))
    },
    "j7_range_join" -> { (s, d) =>
      // Range join with an equi prefix (user_id) — hash join on the key,
      // time-range as residual; pair count bounded by per-user density.
      val e = Tables.events(s, d).select(col("user_id"), col("ts_us"))
      val a = e.as("a")
      val b = e.as("b")
      a.join(b,
          col("a.user_id") === col("b.user_id") &&
          col("b.ts_us") > col("a.ts_us") &&
          col("b.ts_us") <= col("a.ts_us") + lit(DAY_US))
        .groupBy(col("a.user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    },

    "mrg1_upsert" -> { (s, d) =>
      // MERGE / upsert semantics (the lakehouse op the reference's
      // append-only block store can't express): an updates batch applied to
      // a base snapshot — matched keys take the update, unmatched updates
      // insert, unmatched base rows carry over. Declaratively it is one
      // full-outer equi-join + coalesce per column: a single shuffle on the
      // merge key (zero-shuffle with bucketed tables, see BucketTables),
      // partition-wise at any scale, no row-at-a-time apply loop.
      val o = Tables.table(s, d, "orders")
      val base = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      // +10.0 keeps the update price at the base's 2-decimal grid — the
      // whole column stays bit-identical across engines with no rounding
      // (a ×1.1-style update would land on .xx5 rounding ties where
      // HALF_UP engines and float-rounding engines disagree).
      val updates = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 10.0).as("u_price"))
      base.join(updates, Seq("o_orderkey"), "full_outer")
        .select(
          col("o_orderkey"),
          coalesce(col("u_price"), col("o_totalprice")).as("price"),
          when(col("u_price").isNotNull && col("o_totalprice").isNotNull, "update")
            .when(col("u_price").isNotNull, "insert")
            .otherwise("keep").as("op"))
    },
    "mrg2_merge_delete" -> { (s, d) =>
      // MERGE with a DELETE branch — the half of the lakehouse write path
      // mrg1 doesn't cover: source rows carry an op marker, matched 'D'
      // targets vanish, matched 'U' targets update, unmatched targets
      // carry over. Still ONE left join + residual filter, no per-branch
      // passes over the target. (+100.0 keeps the updated balance on the
      // base's 2-decimal grid, so no rounding ties across engines.)
      val c = Tables.table(s, d, "customer")
      val source = c.filter(col("c_nationkey") < 5)
        .select(col("c_custkey").as("k"),
          when(col("c_acctbal") < 0, "D").otherwise("U").as("src_op"))
      c.join(broadcast(source), col("c_custkey") === col("k"), "left")
        .filter(col("src_op").isNull || col("src_op") =!= "D")
        .select(col("c_custkey"),
          when(col("src_op") === "U", col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).as("acctbal"),
          coalesce(col("src_op"), lit("keep")).as("op"))
    },
    "j13_bloom_join" -> { (s, d) =>
      // Runtime semi-join pushdown: a selective dimension predicate becomes
      // a Bloom filter applied to the FACT SCAN, map-side, before the join
      // shuffle — at 100 TB this is the difference between shuffling the
      // matching ~1% and shuffling everything. False positives are removed
      // by the join itself, so the result is exactly the plain join's.
      import graft.functions.Bloom
      val dim = Tables.table(s, d, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val bf = Bloom.build(dim, "o_orderkey")
      Tables.table(s, d, "lineitem")
        .filter(bf.col(col("l_orderkey")))
        .join(broadcast(dim), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"), r2(sum(col("l_extendedprice"))).as("revenue"))
    },
    "tk1_native_topk" -> { (s, d) =>
      // Per-key top-k through the custom TopKPerKey operator (logical node
      // + strategy + two-phase heap exec, graft.plans) instead of the
      // window formulation — bounded heaps, only <= k rows per
      // (partition, key) reach the exchange. Ordering includes the unique
      // orderkey so the kept set is total-order deterministic.
      graft.plans.TopK.perKey(
        Tables.table(s, d, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"),
            r2(col("o_totalprice")).as("price")),
        keyCols = Seq("o_orderpriority"),
        orderBy = Seq(("price", true), ("o_orderkey", false)),
        k = 3)
    },
    "j14_fuzzy_join" -> { (s, d) =>
      // Entity-resolution fuzzy join: same-brand parts whose names are
      // within Levenshtein distance 2 — "probable duplicate listing".
      // BLOCKED on (brand, first name token) so the expensive edit
      // distance runs inside hash-join buckets, never all-pairs — the
      // standard blocking-key shape of record linkage (the block key is
      // the lever that keeps candidates linear-ish at 100 TB; a category
      // column like brand is exactly what production blocking uses). The
      // length-band pre-filter prunes each block before the residual.
      val p = Tables.table(s, d, "part")
      val a = p.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"),
        col("p_brand").as("brand"), substring_index(col("p_name"), " ", 1).as("blk"))
      val b = p.select(col("p_partkey").as("key_b"), col("p_name").as("name_b"),
        col("p_brand").as("brand"), substring_index(col("p_name"), " ", 1).as("blk"))
      a.join(b, Seq("brand", "blk"))
        .filter(col("key_a") < col("key_b") &&
          abs(length(col("name_a")) - length(col("name_b"))) <= 2)
        // Thresholded levenshtein (Spark 3.5+): banded DP that abandons a
        // pair the moment its distance provably exceeds 2 (returns -1) —
        // O(k·len) per pair instead of O(len²), ~10x on wide blocks. The
        // returned value is the exact distance whenever it's <= k, so the
        // output is identical to the unthresholded form.
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2).cast("long"))
        .filter(col("dist") >= 0)
        .select(col("key_a"), col("key_b"), col("dist"))
    },

    "h3_shipping_priority" -> { (s, d) =>
      // TPC-H Q3 shape: dimension filter broadcasts into the fact-fact
      // equi-join, group on the order grain, global top-10 via
      // TakeOrderedAndProject (no full sort at scale).
      val c = Tables.table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = Tables.table(s, d, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01"))
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    "h4_order_priority" -> { (s, d) =>
      // TPC-H Q4 shape: correlated EXISTS through the SQL frontend —
      // Catalyst decorrelates it to a left-semi hash join on l_orderkey.
      Tables.table(s, d, "orders").createOrReplaceTempView("orders_h4")
      Tables.table(s, d, "lineitem").createOrReplaceTempView("lineitem_h4")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n_orders
          |FROM orders_h4
          |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
          |  AND EXISTS (SELECT 1 FROM lineitem_h4
          |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
          |GROUP BY o_orderpriority""".stripMargin)
    },
    "q7_supplier_share" -> { (s, d) =>
      // Window over an aggregate: each supplier's share of its nation's
      // revenue — one shuffle for the agg, one for the (nation-keyed)
      // window; the window input is already aggregate-sized.
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.table(s, d, "lineitem")
        .join(broadcast(Tables.table(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      rev.withColumn("share",
          round(col("rev") / sum(col("rev")).over(Window.partitionBy(col("s_nationkey"))), 4))
        .select(col("s_nationkey"), col("s_suppkey"), r2(col("rev")).as("rev"), col("share"))
    },
    "h10_returned_items" -> { (s, d) =>
      // TPC-H Q10 shape: revenue lost to returns per customer, top-20 —
      // fact-fact equi-join + broadcast dims + TakeOrderedAndProject.
      val li = Tables.table(s, d, "lineitem").filter(col("l_returnflag") === "R")
      val o = Tables.table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01") && col("o_orderdate") < lit("1997-07-01"))
      val c = Tables.table(s, d, "customer")
      val n = Tables.table(s, d, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    "h12_priority_shipping" -> { (s, d) =>
      // TPC-H Q12 shape: orders shipped within a window, bucketed into
      // high/low priority counts — join + conditional aggregation.
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01"))
      Tables.table(s, d, "orders")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_priority"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("low_priority"))
    },
    "h14_promo_effect" -> { (s, d) =>
      // TPC-H Q14 shape: promo revenue share in a month — conditional
      // numerator and full denominator from ONE aggregation pass over the
      // joined window (no second scan for the ratio).
      val li = Tables.table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-03-01") && col("l_shipdate") < lit("1997-04-01"))
      val p = Tables.table(s, d, "part")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO",
              col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) * 100.0 /
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("promo_pct"))
    },
    "h19_disjunctive" -> { (s, d) =>
      // TPC-H Q19 shape: OR-of-ANDs predicate over a join. The equi key
      // (partkey) hash-joins; the disjunction stays a residual filter —
      // Catalyst must not fall back to a nested loop (PlanAuditSpec
      // enforces that for every registered query).
      val li = Tables.table(s, d, "lineitem")
      val p = Tables.table(s, d, "part")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(25, 50) &&
            col("l_quantity").between(20, 30)))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))
    },
    "h5_local_supplier" -> { (s, d) =>
      // TPC-H Q5 shape: revenue from LOCAL suppliers (customer's nation =
      // supplier's nation) per nation, one region + one order-year. The
      // locality predicate rides the supplier join condition, so the
      // six-table join stays all-equi; nation/region/supplier broadcast.
      val o = Tables.table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01") && col("o_orderdate") < lit("1998-01-01"))
      val r = Tables.table(s, d, "region").filter(col("r_name") === "ASIA")
      Tables.table(s, d, "customer")
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(Tables.table(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.table(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.table(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
        .orderBy(col("revenue").desc)
    },
    "h7_volume_shipping" -> { (s, d) =>
      // TPC-H Q7 shape: shipping volume between two REGIONS by nation pair
      // and ship year. Both nation⋈region lookups reduce to tiny broadcast
      // maps; the fact side is filtered to the two-year window before any
      // shuffle. (Original filters one nation pair; regions give the same
      // plan shape with non-trivial output on synthetic nations.)
      val n = Tables.table(s, d, "nation")
      val r = Tables.table(s, d, "region")
      val suppNat = n.join(r.filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val custNat = n.join(r.filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      Tables.table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
        .join(broadcast(Tables.table(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.table(s, d, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.table(s, d, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(suppNat), col("s_nationkey") === col("sn_key"))
        .join(broadcast(custNat), col("c_nationkey") === col("cn_key"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
    },
    "h13_cust_distribution" -> { (s, d) =>
      // TPC-H Q13 shape: distribution of customers by order count — LEFT
      // outer join so zero-order customers keep count 0, then a second
      // (tiny) aggregation over the counts. Two shuffles total; the first
      // is the only data-sized one.
      val o = Tables.table(s, d, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
      Tables.table(s, d, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
    "h17_small_qty" -> { (s, d) =>
      // TPC-H Q17 shape: revenue from small-quantity orders of one brand's
      // parts, threshold = 0.2 × that part's average quantity. The
      // correlated subquery becomes aggregate-then-self-join: the brand's
      // part keys broadcast-prune the fact scan FIRST, so both the average
      // pass and the filter pass run over the pruned slice only.
      val bp = broadcast(Tables.table(s, d, "part")
        .filter(col("p_brand") === "Brand#1").select(col("p_partkey")))
      val li = Tables.table(s, d, "lineitem")
        .join(bp, col("l_partkey") === col("p_partkey"))
      val thresh = li.groupBy(col("l_partkey").as("t_key"))
        .agg((avg(col("l_quantity")) * 0.2).as("qty_thresh"))
      li.join(broadcast(thresh), col("l_partkey") === col("t_key"))
        .filter(col("l_quantity") < col("qty_thresh"))
        .agg(r2(sum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
    },
    "h18_large_orders" -> { (s, d) =>
      // TPC-H Q18 shape: customers whose orders exceed a total-quantity
      // threshold — the IN-subquery-with-HAVING becomes aggregate + join,
      // and the final top-100 plans TakeOrderedAndProject (no global sort).
      val big = Tables.table(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty_sum"))
        .filter(col("qty_sum") > 250)
      Tables.table(s, d, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          r2(col("qty_sum")).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
    "h2_min_cost_supplier" -> { (s, d) =>
      // TPC-H Q2 shape (no partsupp table in the synthetic schema, so
      // lineitem is the part↔supplier bridge): for each LARGE small-size
      // part, the supplier(s) whose best unit price on that part is the
      // part's minimum — a correlated MIN subquery that Catalyst
      // decorrelates into one aggregate + join, not a per-row rescan.
      // min() (not avg) keeps the compared value exact across engines.
      Tables.table(s, d, "part").createOrReplaceTempView("part_h2")
      Tables.table(s, d, "supplier").createOrReplaceTempView("supplier_h2")
      Tables.table(s, d, "lineitem").createOrReplaceTempView("lineitem_h2")
      // Same single-evaluation discipline as h15/h20: the correlated
      // "(SELECT min(...) WHERE ps2.l_partkey = ps.l_partkey)" form
      // decorrelates into a SECOND evaluation of the ps CTE — a second
      // full lineitem aggregation. min() OVER (PARTITION BY l_partkey)
      // computes the per-part floor in the same pass (PlanSpec pins one
      // executed lineitem scan).
      s.sql(
        """WITH ps AS (
          |  SELECT l_partkey, l_suppkey,
          |    round(min(l_extendedprice / l_quantity), 2) AS unit_price
          |  FROM lineitem_h2 GROUP BY l_partkey, l_suppkey),
          |psf AS (
          |  SELECT l_partkey, l_suppkey, unit_price,
          |    min(unit_price) OVER (PARTITION BY l_partkey) AS part_floor
          |  FROM ps)
          |SELECT p_partkey, p_name, s_name, unit_price AS min_price
          |FROM part_h2 JOIN psf ON p_partkey = l_partkey
          |JOIN supplier_h2 ON s_suppkey = l_suppkey
          |WHERE p_type = 'LARGE' AND p_size <= 10
          |  AND unit_price = part_floor""".stripMargin)
    },
    "h8_market_share" -> { (s, d) =>
      // TPC-H Q8 shape: one nation's share of a region's yearly order
      // volume — a seven-way star join where every dimension broadcasts
      // and the conditional-sum ratio folds into one aggregate pass (no
      // second scan for the denominator).
      Seq("lineitem", "orders", "customer", "nation", "region", "supplier")
        .foreach(t => Tables.table(s, d, t).createOrReplaceTempView(s"${t}_h8"))
      s.sql(
        """WITH vol AS (
          |  SELECT year(o_orderdate) AS o_year,
          |    l_extendedprice * (1 - l_discount) AS volume,
          |    sn.n_name AS supp_nation
          |  FROM lineitem_h8
          |  JOIN orders_h8 ON l_orderkey = o_orderkey
          |  JOIN customer_h8 ON o_custkey = c_custkey
          |  JOIN nation_h8 cn ON c_nationkey = cn.n_nationkey
          |  JOIN region_h8 ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
          |  JOIN supplier_h8 ON l_suppkey = s_suppkey
          |  JOIN nation_h8 sn ON s_nationkey = sn.n_nationkey)
          |SELECT o_year,
          |  round(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END)
          |        / sum(volume), 6) AS mkt_share
          |FROM vol GROUP BY o_year""".stripMargin)
    },
    "h15_top_supplier" -> { (s, d) =>
      // TPC-H Q15 shape. The classic "= (SELECT max(...) FROM revenue)"
      // scalar-subquery form EVALUATES THE CTE TWICE in Spark: the join
      // side picks up an extra isnotnull(l_suppkey) filter, so its
      // aggregate exchange is not byte-identical to the subquery's and
      // ReuseExchangeAndSubquery never fires — two full fact scans
      // (verified in PlanSpec "twice-referenced aggregate CTE"). The
      // max() OVER () rewrite computes revenue ONCE and takes the max as
      // a window over the |suppliers|-row aggregate output — a tiny
      // single-partition window vs a second 100 TB pass.
      Tables.table(s, d, "supplier").createOrReplaceTempView("supplier_h15")
      Tables.table(s, d, "lineitem").createOrReplaceTempView("lineitem_h15")
      s.sql(
        """WITH revenue AS (
          |  SELECT l_suppkey AS supplier_no,
          |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
          |  FROM lineitem_h15
          |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |    AND l_shipdate < TIMESTAMP '1997-04-01'
          |  GROUP BY l_suppkey),
          |ranked AS (
          |  SELECT supplier_no, total_revenue,
          |    max(total_revenue) OVER () AS max_rev
          |  FROM revenue)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM supplier_h15 JOIN ranked ON s_suppkey = supplier_no
          |WHERE total_revenue = max_rev""".stripMargin)
    },
    "h20_promo_suppliers" -> { (s, d) =>
      // TPC-H Q20 shape: nested IN subqueries + a correlated scalar
      // subquery over the same aggregate CTE — suppliers who moved more
      // than 15% of a red part's total volume. Quantities are integral
      // doubles, so the sums and the comparison are exact in both engines.
      Seq("supplier", "lineitem", "part")
        .foreach(t => Tables.table(s, d, t).createOrReplaceTempView(s"${t}_h20"))
      // The correlated "(SELECT 0.15*sum(qty) ... WHERE p2.l_partkey =
      // per.l_partkey)" form decorrelates into a SECOND evaluation of the
      // per CTE (same double-scan failure as h15; pinned in PlanSpec).
      // sum(qty) OVER (PARTITION BY l_partkey) computes the per-part total
      // in the same pass — one fact scan, window partitions in parallel.
      s.sql(
        """WITH per AS (
          |  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
          |  FROM lineitem_h20
          |  WHERE l_partkey IN (SELECT p_partkey FROM part_h20 WHERE p_name LIKE 'red%')
          |  GROUP BY l_suppkey, l_partkey),
          |w AS (
          |  SELECT l_suppkey, qty,
          |    0.15 * sum(qty) OVER (PARTITION BY l_partkey) AS thresh
          |  FROM per)
          |SELECT s_suppkey, s_name
          |FROM supplier_h20
          |WHERE s_suppkey IN (SELECT l_suppkey FROM w WHERE qty > thresh)""".stripMargin)
    },
    "h9_product_profit" -> { (s, d) =>
      // TPC-H Q9 shape: profit per supplier-nation per order-year over a
      // five-way join (cost proxied off p_retailprice — no ps_supplycost
      // in the schema). The two dimension joins broadcast; the fact
      // shuffles once for the group-by.
      val li = Tables.table(s, d, "lineitem")
      li.join(Tables.table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.table(s, d, "part").filter(col("p_type") === "PROMO"),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.table(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.table(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
          lit(0.6) * col("p_retailprice") * col("l_quantity"))).as("profit"))
    },
    "h11_important_stock" -> { (s, d) =>
      // TPC-H Q11 shape: parts whose stocked value (within one nation's
      // suppliers) exceeds a fraction of that nation's total — a global
      // scalar subquery over the SAME aggregate, which Catalyst evaluates
      // once and broadcasts rather than per row.
      Tables.table(s, d, "supplier").createOrReplaceTempView("supplier_h11")
      Tables.table(s, d, "nation").createOrReplaceTempView("nation_h11")
      Tables.table(s, d, "lineitem").createOrReplaceTempView("lineitem_h11")
      s.sql(
        """WITH val AS (
          |  SELECT l_partkey, round(sum(l_extendedprice), 2) AS part_value
          |  FROM lineitem_h11 JOIN supplier_h11 ON l_suppkey = s_suppkey
          |  JOIN nation_h11 ON s_nationkey = n_nationkey
          |  WHERE n_name = 'NATION_3'
          |  GROUP BY l_partkey)
          |SELECT l_partkey AS p_key, part_value
          |FROM val
          |WHERE part_value > (SELECT 0.002 * sum(part_value) FROM val)""".stripMargin)
    },
    "h16_supplier_cnt" -> { (s, d) =>
      // TPC-H Q16 shape: distinct-supplier counts per part bucket, with a
      // NOT IN exclusion subquery (negative-balance suppliers standing in
      // for the spec's complaints filter) — NOT IN over a non-null key
      // column planned as a null-aware anti join.
      Tables.table(s, d, "part").createOrReplaceTempView("part_h16")
      Tables.table(s, d, "supplier").createOrReplaceTempView("supplier_h16")
      Tables.table(s, d, "lineitem").createOrReplaceTempView("lineitem_h16")
      s.sql(
        """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM lineitem_h16 JOIN part_h16 ON l_partkey = p_partkey
          |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          |  AND p_size IN (1, 5, 10, 15, 20, 25)
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier_h16 WHERE s_acctbal < 0)
          |GROUP BY p_brand, p_type, p_size""".stripMargin)
    },
    "h21_waiting_supplier" -> { (s, d) =>
      // TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
      // finalized multi-supplier order ("late" = shipped >60 days after
      // the order date; the schema has no commit/receipt dates). The
      // EXISTS + correlated NOT EXISTS pair decorrelates to a semi join
      // plus an anti join on l_orderkey — two shuffles on the order key,
      // no per-row subquery execution.
      Tables.table(s, d, "supplier").createOrReplaceTempView("supplier_h21")
      Tables.table(s, d, "orders").createOrReplaceTempView("orders_h21")
      Tables.table(s, d, "lineitem").createOrReplaceTempView("lineitem_h21")
      s.sql(
        """SELECT s_name, count(*) AS numwait
          |FROM supplier_h21, lineitem_h21 l1, orders_h21
          |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          |  AND o_orderstatus = 'F'
          |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          |  AND EXISTS (SELECT 1 FROM lineitem_h21 l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem_h21 l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
          |GROUP BY s_name""".stripMargin)
    },
    "h22_dormant_customers" -> { (s, d) =>
      // TPC-H Q22 shape: well-funded customers gone quiet — balance above
      // the positive-balance average (scalar subquery → one tiny broadcast)
      // and no orders in the recent window (anti join). Grouped by nation
      // (the synthetic schema has no phone country codes).
      Tables.table(s, d, "customer").createOrReplaceTempView("customer_h22")
      Tables.table(s, d, "orders").createOrReplaceTempView("orders_h22")
      Tables.table(s, d, "nation").createOrReplaceTempView("nation_h22")
      s.sql(
        """SELECT n_name, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
          |FROM customer_h22 JOIN nation_h22 ON c_nationkey = n_nationkey
          |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer_h22 WHERE c_acctbal > 0)
          |  AND NOT EXISTS (SELECT 1 FROM orders_h22
          |                  WHERE o_custkey = c_custkey
          |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
          |GROUP BY n_name""".stripMargin)
    },
    "rc1_recursive_cte" -> { (s, d) =>
      // WITH RECURSIVE (Spark 4's UnionLoop execution): each customer's
      // orders form a chain in (date, key) order and the recursion walks
      // its first 10 links carrying a running total — the linked-list
      // traversal shape (org charts, BOM explosions, session stitching)
      // that UNROLLED CTEs (g1/g2/g4) can't express without hand-fixing
      // the depth in the SQL text. Money rides as exact integer cents,
      // so every level is integer arithmetic: sum_prefix (the sum of all
      // running prefixes) is order-SENSITIVE and pins each recursion
      // level exactly, while the DuckDB oracle computes the same surface
      // with a window cumsum — two independent formulations, one answer.
      // The walk is depth-BOUNDED (r <= 10) deliberately: each UnionLoop
      // level is a planned-and-executed join (~0.2 s fixed cost at any
      // data size), so an unbounded chain would couple latency to the
      // longest chain in the data — the unscalable shape. Bounded depth
      // is also what real traversals ship (graph frameworks cap hops);
      // rows per level stay |customers|-sized either way.
      Tables.table(s, d, "orders").createOrReplaceTempView("orders_rc1")
      // Materialize the chain table ONCE before recursing: a plain CTE
      // inlines, so every UnionLoop level would otherwise re-run the
      // scan + window (10× the one-time cost — measured 5.1 s vs 1.x s
      // at sf0.1). The cached frame is (|orders| rows, 3 ints) and the
      // loop's per-level join probes it with a customers-sized frontier.
      s.sql(
        """SELECT * FROM (
          |  SELECT o_custkey AS c,
          |         row_number() OVER (PARTITION BY o_custkey
          |                            ORDER BY o_orderdate, o_orderkey) AS r,
          |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          |  FROM orders_rc1) WHERE r <= 10""".stripMargin)
        .localCheckpoint()
        .createOrReplaceTempView("seq_rc1")
      s.sql(
        """WITH RECURSIVE run AS (
          |  SELECT c, r, cents AS cum FROM seq_rc1 WHERE r = 1
          |  UNION ALL
          |  SELECT /*+ BROADCAST(run) */ s.c, s.r, run.cum + s.cents
          |  FROM run JOIN seq_rc1 s ON s.c = run.c AND s.r = run.r + 1)
          |SELECT c, count(*) AS n_orders,
          |  max(cum) AS total_cents, sum(cum) AS sum_prefix
          |FROM run GROUP BY c""".stripMargin)
    },
    "j11_lateral_topn" -> { (s, d) =>
      // LATERAL correlated subquery (top-2 orders per customer) — Catalyst
      // decorrelates the per-row subquery into a window + join, so the
      // plan is one shuffle, not |customers| subquery executions.
      Tables.table(s, d, "customer").createOrReplaceTempView("customer_j11")
      Tables.table(s, d, "orders").createOrReplaceTempView("orders_j11")
      s.sql(
        """SELECT c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer_j11 c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders_j11 o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |WHERE c_nationkey = 3""".stripMargin)
    },
    "j10_scalar_subquery" -> { (s, d) =>
      // Correlated scalar subquery (per-nation average) — decorrelates to
      // one aggregate + broadcast join; raw doubles compare exactly since
      // no arithmetic is applied to the output columns.
      Tables.table(s, d, "customer").createOrReplaceTempView("customer_j10")
      s.sql(
        """SELECT c_custkey, c_nationkey, c_acctbal
          |FROM customer_j10 c
          |WHERE c_acctbal > 1.02 * (SELECT avg(c_acctbal) FROM customer_j10 c2
          |                          WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin)
    },

    // ---- sorts / limits / top-k ----------------------------------------
    "s1_topk" -> { (s, d) =>
      // Global top-k: Spark plans TakeOrderedAndProject — per-partition
      // heap then driver-side k-merge; no global sort at scale.
      Tables.table(s, d, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    },

    "s4_nulls_order" -> { (s, d) =>
      // Explicit null placement in sort order (NULLS FIRST under ASC, the
      // non-default) with a unique tiebreak — nulls must actually appear
      // in the limited output for the placement to be observable.
      Tables.table(s, d, "orders")
        .select(col("o_orderkey"), nullif(col("o_orderstatus"), lit("O")).as("st"))
        .orderBy(col("st").asc_nulls_first, col("o_orderkey"))
        .limit(50)
    },

    // ---- set ops ---------------------------------------------------------
    "set1_intersect" -> { (s, d) =>
      val o = Tables.table(s, d, "orders")
      o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey"))
        .intersect(o.filter(year(col("o_orderdate")) === 1998).select(col("o_custkey")))
    },
    "set2_except" -> { (s, d) =>
      val o = Tables.table(s, d, "orders")
      o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey"))
        .except(o.filter(year(col("o_orderdate")) === 1998).select(col("o_custkey")))
    },
    "set3_union" -> { (s, d) =>
      Tables.table(s, d, "orders").filter(col("o_totalprice") > 350000)
        .select(col("o_custkey").as("custkey"))
        .union(Tables.table(s, d, "customer").filter(col("c_acctbal") > 9000)
          .select(col("c_custkey").as("custkey")))
        .distinct()
    }
  )

  val oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  round(avg(l_extendedprice), 2) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_revenue_filter" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q3_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS distinct_suppliers,
        |  count(DISTINCT l_partkey) AS distinct_parts,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q4_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q5_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "j1_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "j2_join_multiway" ->
      """SELECT r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "j3_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin,
    "j4_anti_join" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,
    "j5_theta_join" ->
      """SELECT s_nationkey AS nation, count(*) AS n_pairs
        |FROM supplier JOIN customer ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
        |GROUP BY s_nationkey""".stripMargin,
    "j6_asof_join" ->
      """SELECT event_id, user_id, prev_event_id FROM (
        |  SELECT event_id, user_id, event_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_event_id
        |  FROM events) t
        |WHERE event_type = 'purchase'""".stripMargin,
    "j17_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  true AS co_located
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "j18_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_rows,
        |  round(sum(value), 2) AS sum_v
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "j16_interval_overlap" ->
      """WITH pairs AS (
        |  SELECT a.l_orderkey, CAST(count(*) AS BIGINT) AS n_overlapping
        |  FROM (SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship,
        |          CAST(l_shipdate AS DATE) + to_days(1 + CAST(l_quantity AS INT) % 20) AS receipt
        |        FROM lineitem) a
        |  JOIN (SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship,
        |          CAST(l_shipdate AS DATE) + to_days(1 + CAST(l_quantity AS INT) % 20) AS receipt
        |        FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_linenumber < b.l_linenumber
        |   AND a.ship <= b.receipt
        |   AND b.ship <= a.receipt
        |  GROUP BY a.l_orderkey),
        |items AS (
        |  SELECT l_orderkey, count(*) AS n_items FROM lineitem
        |  GROUP BY l_orderkey HAVING count(*) >= 2)
        |SELECT i.l_orderkey, i.n_items,
        |  coalesce(p.n_overlapping, 0) AS n_overlapping
        |FROM items i LEFT JOIN pairs p USING (l_orderkey)""".stripMargin,
    "j7_range_join" ->
      """SELECT a.user_id AS user_id, count(*) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 86400000000
        |GROUP BY a.user_id""".stripMargin,
    "mrg1_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
        |updates AS (
        |  SELECT o_orderkey, o_totalprice + 10.0 AS u_price
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT coalesce(base.o_orderkey, updates.o_orderkey) AS o_orderkey,
        |  coalesce(u_price, o_totalprice) AS price,
        |  CASE WHEN u_price IS NOT NULL AND o_totalprice IS NOT NULL THEN 'update'
        |       WHEN u_price IS NOT NULL THEN 'insert'
        |       ELSE 'keep' END AS op
        |FROM base FULL OUTER JOIN updates ON base.o_orderkey = updates.o_orderkey""".stripMargin,
    "mrg2_merge_delete" ->
      """WITH src AS (
        |  SELECT c_custkey AS k,
        |    CASE WHEN c_acctbal < 0 THEN 'D' ELSE 'U' END AS src_op
        |  FROM customer WHERE c_nationkey < 5)
        |SELECT c_custkey,
        |  CASE WHEN src_op = 'U' THEN c_acctbal + 100.0 ELSE c_acctbal END AS acctbal,
        |  coalesce(src_op, 'keep') AS op
        |FROM customer LEFT JOIN src ON c_custkey = k
        |WHERE src_op IS NULL OR src_op <> 'D'""".stripMargin,
    "j13_bloom_join" ->
      """SELECT o_orderpriority, count(*) AS n_items, round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |GROUP BY o_orderpriority""".stripMargin,
    "tk1_native_topk" ->
      """SELECT o_orderpriority, o_orderkey, price FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    round(o_totalprice, 2) AS price,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY round(o_totalprice, 2) DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3""".stripMargin,
    "j14_fuzzy_join" ->
      """WITH p AS (SELECT p_partkey AS k, p_name AS n, p_brand AS m,
        |    string_split(p_name, ' ')[1] AS blk FROM part)
        |SELECT a.k AS key_a, b.k AS key_b,
        |  CAST(levenshtein(a.n, b.n) AS BIGINT) AS dist
        |FROM p a JOIN p b ON a.m = b.m AND a.blk = b.blk AND a.k < b.k
        |WHERE abs(length(a.n) - length(b.n)) <= 2
        |  AND levenshtein(a.n, b.n) <= 2""".stripMargin,
    "h3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "h4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,
    "q7_supplier_share" ->
      """WITH rev AS (
        |  SELECT s_nationkey, s_suppkey,
        |    sum(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY s_nationkey, s_suppkey)
        |SELECT s_nationkey, s_suppkey, round(rev, 2) AS rev,
        |  round(rev / sum(rev) OVER (PARTITION BY s_nationkey), 4) AS share
        |FROM rev""".stripMargin,
    "h10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "h12_priority_shipping" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_priority
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag""".stripMargin,
    "h14_promo_effect" ->
      """SELECT round(
        |    sum(CASE WHEN p_type = 'PROMO'
        |             THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 100.0
        |    / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,
    "h19_disjunctive" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 25 AND 50 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "h5_local_supplier" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,
    "h7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM supplier
        |JOIN lineitem ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
        |JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |WHERE r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA'
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin,
    "h13_cust_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "h17_small_qty" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "h18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  round(t.qty_sum, 2) AS total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, sum(l_quantity) AS qty_sum FROM lineitem
        |      GROUP BY l_orderkey HAVING sum(l_quantity) > 250) t
        |  ON o_orderkey = t.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "h2_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    round(min(l_extendedprice / l_quantity), 2) AS unit_price
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT p_partkey, p_name, s_name, unit_price AS min_price
        |FROM part JOIN ps ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE p_type = 'LARGE' AND p_size <= 10
        |  AND unit_price = (SELECT min(ps2.unit_price) FROM ps ps2
        |                    WHERE ps2.l_partkey = ps.l_partkey)""".stripMargin,
    "h8_market_share" ->
      """WITH vol AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS volume,
        |    sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey)
        |SELECT o_year,
        |  round(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END)
        |        / sum(volume), 6) AS mkt_share
        |FROM vol GROUP BY o_year""".stripMargin,
    "h15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin,
    "h20_promo_suppliers" ->
      """WITH per AS (
        |  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |  GROUP BY l_suppkey, l_partkey)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM per
        |  WHERE qty > (SELECT 0.15 * sum(p2.qty) FROM per p2
        |               WHERE p2.l_partkey = per.l_partkey))""".stripMargin,
    "h9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  round(sum(l_extendedprice * (1 - l_discount)
        |            - 0.6 * p_retailprice * l_quantity), 2) AS profit
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, year(o_orderdate)""".stripMargin,
    "h11_important_stock" ->
      """WITH val AS (
        |  SELECT l_partkey, round(sum(l_extendedprice), 2) AS part_value
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY l_partkey)
        |SELECT l_partkey AS p_key, part_value
        |FROM val
        |WHERE part_value > (SELECT 0.002 * sum(part_value) FROM val)""".stripMargin,
    "h16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,
    "h21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name""".stripMargin,
    "h22_dormant_customers" ->
      """SELECT n_name, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY n_name""".stripMargin,
    "rc1_recursive_cte" ->
      """WITH seq AS (
        |  SELECT o_custkey AS c,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate, o_orderkey) AS r,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |pre AS (
        |  SELECT c, r, sum(cents) OVER (PARTITION BY c ORDER BY r) AS cum
        |  FROM seq WHERE r <= 10)
        |SELECT c, count(*) AS n_orders,
        |  CAST(max(cum) AS BIGINT) AS total_cents,
        |  CAST(sum(cum) AS BIGINT) AS sum_prefix
        |FROM pre GROUP BY c""".stripMargin,
    "j11_lateral_topn" ->
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c_nationkey = 3""".stripMargin,
    "j10_scalar_subquery" ->
      """SELECT c_custkey, c_nationkey, c_acctbal
        |FROM customer c
        |WHERE c_acctbal > 1.02 * (SELECT avg(c_acctbal) FROM customer c2
        |                          WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin,
    "s1_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,
    "s4_nulls_order" ->
      """SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st
        |FROM orders
        |ORDER BY st ASC NULLS FIRST, o_orderkey LIMIT 50""".stripMargin,
    "set1_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998""".stripMargin,
    "set2_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998""".stripMargin,
    "set3_union" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 350000
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000""".stripMargin
  )
}
