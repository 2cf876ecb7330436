package graft

import org.apache.spark.sql.functions._
import graft.query.{RangeQuery, RefParity}

/** Diagnostic main: edge-case probes + plan-shape checks for the range-query
  * path. Not part of the driver contract.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")

    // pure-SQL path through GraftSession: registered views + native fn
    GraftSession.registerViews(spark, sfDir)
    val sqlRows = spark.sql(
      "SELECT count(DISTINCT fnv64(text)) AS n FROM documents").head().getLong(0)
    println(s"PROBE sql_fnv64_distinct n=$sqlRows")

    val base = RefParity.ingestedEvents(spark, sfDir)

    // inverted range (lo > hi) must be empty, not an error
    val inv = RangeQuery.query(spark, base, "user_id", "ts_us",
      lit(13L), lit(2000000000000000L), lit(1000000000000000L)).count()
    println(s"PROBE inverted_range rows=$inv")

    // nonexistent partition key must be empty, not an error
    val missing = RangeQuery.query(spark, base, "user_id", "ts_us",
      lit(999999L), lit(0L), lit(9999999999999999L)).count()
    println(s"PROBE missing_pk rows=$missing")

    // range covering everything = full partition row count
    val all = RangeQuery.query(spark, base, "user_id", "ts_us",
      lit(13L), lit(0L), lit(9999999999999999L)).count()
    val direct = graft.tables.Tables.events(spark, sfDir)
      .filter(col("user_id") === 13L).count()
    println(s"PROBE full_range rows=$all direct=$direct match=${all == direct}")

    // plan shape: partition pruning + pushed filters must fire
    val df = RangeQuery.query(spark, base, "user_id", "ts_us",
      lit(13L), lit(1704412800000000L), lit(1705708800000000L))
    val (part, pushed) = RangeQuery.scanFilters(df)
    println(s"PROBE partition_filters=$part")
    println(s"PROBE pushed_filters=$pushed")
    spark.stop()
  }
}
