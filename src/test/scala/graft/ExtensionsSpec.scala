package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.ColumnBridge
import graft.connector.{GraftMergeStrategy, MvRewriteRule, StatsPropagationRule}
import graft.plans.TopKPerKeyStrategy
import graft.ingest.Snapshots

/** The config-driven extension path: a session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (the shared
  * suite session, from `GraftSession.create`) must expose graft's native
  * functions without any registration call.
  */
class ExtensionsSpec extends SparkSuite {

  test("GraftExtensions injects fnv64 and ngrams into the session") {
    val viaSql = spark.sql("SELECT fnv64('hello') AS h").collect().head.getLong(0)
    // must equal the FnvHash64 expression built directly
    val viaExpr = spark.range(1).select(ColumnBridge.column(
      graft.functions.FnvHash64(ColumnBridge.expression(lit("hello")))))
      .collect().head.getLong(0)
    assert(viaSql === viaExpr)
    // the injected Generator works in LATERAL VIEW position too
    val grams = spark.sql(
      """SELECT g.pos, g.gram
        |FROM VALUES ('The quick Brown fox') AS t(txt)
        |LATERAL VIEW ngrams(txt, 3) g AS pos, gram""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(grams === Seq((0L, "the quick brown"), (1L, "quick brown fox")))
  }

  test("ngrams generator edge cases: short input, null, n=1") {
    // fewer words than n → zero rows, not an error
    assert(spark.sql(
      "SELECT * FROM VALUES ('one two') t(x) LATERAL VIEW ngrams(x, 3) g AS p, w")
      .count() === 0L)
    // NULL text → zero rows
    assert(spark.sql(
      "SELECT * FROM VALUES (CAST(NULL AS STRING)) t(x) LATERAL VIEW ngrams(x, 2) g AS p, w")
      .count() === 0L)
    // n=1 degenerates to posexplode(split(lower(x)))
    val uni = spark.sql(
      "SELECT g.w FROM VALUES ('A b C') t(x) LATERAL VIEW ngrams(x, 1) g AS p, w")
      .collect().map(_.getString(0)).toSeq
    assert(uni === Seq("a", "b", "c"))
  }

  test("every graft rule is registered once, where it fires") {
    val base = tmpDir("graft_rule_placement")
    Snapshots.commit(spark, spark.range(100).toDF("id"), base)
    def check(s: SparkSession): Unit = {
      val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val read = s.read.format("graft").load(base)
      assert(read.count() === 100L)
      SparkEntry.queries("q1_pricing_summary")(s, sf).collect()
      val strategies = classic.sessionState.planner.strategies
      assert(strategies.count(_ eq TopKPerKeyStrategy) === 1, strategies)
      assert(strategies.count(_ eq GraftMergeStrategy) === 1, strategies)
      // the two rules that match DataSourceV2ScanRelation run after the
      // push-down batch builds it, in "User Provided Optimizers"
      assert(classic.experimental.extraOptimizations ===
        Seq(StatsPropagationRule, MvRewriteRule))
      assert(classic.experimental.extraStrategies.isEmpty)
      // ...where StatsPropagationRule fires: the scan reports manifest
      // stats, not Spark's unknown-size default
      val optimized = read.queryExecution.optimizedPlan
      val scans = optimized.collect { case r: DataSourceV2ScanRelation =>
        r.scan.getClass.getSimpleName }
      assert(scans === Seq("StatsV1ScanWrapper"), optimized)
      assert(optimized.stats.sizeInBytes < BigInt(1 << 20), optimized.stats)
    }
    check(spark)
    check(spark.newSession())
  }
}
