package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._
import graft.query.{Fixture, RefParity}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY.md §2): reference
  * parity (range query over ingested block layout) plus the extension
  * surface (aggregations, joins, windows, set ops, scalar functions,
  * time windows, dedup, similarity, text analysis, multimodal).
  * `oracleSql` carries the DuckDB-equivalent SQL for every
  * SQL-expressible query; same column names both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RefParity.queries ++
    Relational.queries ++
    Windows.queries ++
    Fns.queries ++
    TextAnalysis.queries ++
    Bpe.queries ++
    Dedup.queries ++
    Sim.queries ++
    TimeWindows.queries ++
    Stats.queries ++
    Shapes.queries ++
    Skyline.queries ++
    Quality.queries ++
    Profiling.queries ++
    Behavior.queries ++
    Graph.queries ++
    Packing.queries ++
    Multimodal.queries ++
    Formats.queries

  /** The fixture registry: every build-once tree a registered query
    * reads. Two entries may not share a root.
    */
  def fixtures: Seq[Fixture] = Fixture.registry(
    RefParity.fixtures ++
    Sim.fixtures ++
    Multimodal.fixtures ++
    Formats.fixtures)

  /** Build every fixture tree for `sfDir` eagerly. Queries stage their
    * trees lazily; after a cache wipe or LayoutVersion bump the first
    * TIMED call would otherwise pay the full staging cost (round 6
    * recorded mv1 at 6.4× its isolated time for exactly this reason).
    * Bench calls this in its warmup tier so timed queries only ever
    * measure the read path.
    */
  def prestage(s: SparkSession, sfDir: String): Unit = fixtures.foreach(_(s, sfDir))

  def oracleSql: Map[String, String] =
    RefParity.oracleSql ++
    Relational.oracleSql ++
    Windows.oracleSql ++
    Fns.oracleSql ++
    TextAnalysis.oracleSql ++
    Bpe.oracleSql ++
    Dedup.oracleSql ++
    Sim.oracleSql ++
    TimeWindows.oracleSql ++
    Stats.oracleSql ++
    Shapes.oracleSql ++
    Skyline.oracleSql ++
    Quality.oracleSql ++
    Profiling.oracleSql ++
    Behavior.oracleSql ++
    Graph.oracleSql ++
    Packing.oracleSql ++
    Multimodal.oracleSql ++
    Formats.oracleSql
}
