package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.ingest.BlockWriter
import graft.query.RangeQuery

/** A constant-key lookup is planned on the driver: it reads its own bucket
  * directory with a footer schema, runs one Spark job, and returns what a
  * read of the whole layout returns.
  */
class RangeLookupSpec extends SparkSuite {

  // 64 buckets, 16 users: most bucket directories do not exist.
  private lazy val base: String = {
    val s = spark
    import s.implicits._
    val dir = tmpDir("graft_lookup_spec")
    val df = (0L until 512L).map(i => (i % 16, i * 10, s"p$i", i / 2.0))
      .toDF("user_id", "ts_us", "payload", "value")
    BlockWriter.write(df, dir, partitionCol = "user_id", keyCol = "ts_us")
    dir
  }

  private def lookup(key: Column, lo: Long, hi: Long): DataFrame =
    RangeQuery.query(spark, base, "user_id", "ts_us", key, lit(lo), lit(hi))

  private def rootRead(pk: Long, lo: Long, hi: Long): DataFrame =
    spark.read.parquet(base).filter(col("user_id") === pk && col("ts_us").between(lo, hi))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getAs[Long]("ts_us"))

  /** The directory names the scans of `df` were planned over. */
  private def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      .flatMap(_.relation.location.rootPaths.map(_.getName))

  private def bucketDirExists(pk: Long): Boolean =
    new java.io.File(base, s"bucket=${BlockWriter.bucketFor(spark, lit(pk), 64).get}").isDirectory

  test("bucketFor picks the directory the writer put each key in") {
    val written = spark.read.parquet(base).select("user_id", "bucket").distinct().collect()
    assert(written.length === 16)
    written.foreach { r =>
      assert(BlockWriter.bucketFor(spark, lit(r.getLong(0)), 64) === Some(r.getInt(1)))
    }
    assert(BlockWriter.bucketFor(spark, col("user_id"), 64) === None)
  }

  test("a constant-key lookup runs one Spark job over its own bucket directory") {
    val bucket = BlockWriter.bucketFor(spark, lit(7L), 64).get
    val df = lookup(lit(7L), 1000L, 4000L)
    assert(scanRoots(df) === Seq(s"bucket=$bucket"))
    val (got, jobs) = jobsOf(df.collect())
    assert(jobs === 1)
    assert(got.toSeq.sortBy(_.getAs[Long]("ts_us")) === rows(rootRead(7L, 1000L, 4000L)))
    val (partFilters, pushed) = RangeQuery.scanFilters(df)
    assert(partFilters.exists(_.contains("bucket")), s"no bucket partition filter in $partFilters")
    assert(pushed.exists(_.contains("ts_us")), s"ts_us range not pushed: $pushed")
  }

  test("every key in -2..40 returns the root read's rows and schema") {
    // One root read of the range; each key's filter then applies in memory.
    val whole = spark.read.parquet(base).filter(col("ts_us").between(500L, 4500L))
    val wholeRows = rows(whole)
    (-2L to 40L).foreach { pk =>
      val df = lookup(lit(pk), 500L, 4500L)
      assert(df.schema === whole.schema, s"pk=$pk")
      assert(rows(df) === wholeRows.filter(_.getAs[Long]("user_id") == pk), s"pk=$pk")
    }
  }

  test("a key without a bucket directory is empty with the root read's schema, and runs no job") {
    val pk = (16L to 1000L).find(!bucketDirExists(_)).get
    val (got, jobs) = jobsOf(lookup(lit(pk), Long.MinValue, Long.MaxValue).collect())
    assert(got.isEmpty)
    assert(jobs === 0)
    assert(lookup(lit(pk), 0L, 1L).schema === spark.read.parquet(base).schema)
  }

  test("a key that is not a constant keeps the root read") {
    val df = lookup(col("user_id"), 500L, 4500L)
    assert(scanRoots(df) === Seq(new java.io.File(base).getName))
    assert(rows(df) === rows(spark.read.parquet(base).filter(col("ts_us").between(500L, 4500L))))
  }
}
