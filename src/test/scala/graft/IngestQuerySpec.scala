package graft

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks
import graft.ingest.BlockWriter
import graft.query.RangeQuery
import graft.tables.Tables

/** The five reference behavioral contracts (SURVEY.md §5) plus the zone-map
  * soundness property, ported to the Spark build:
  *  - ingest→query round trip returns exactly the rows in the inclusive
  *    key range (block.go:117-141 semantics);
  *  - block files respect the MaxSize row cap (blockManager.go:65-67);
  *  - pruning never drops a qualifying row (block.go:143-199 soundness);
  *  - partition pruning + pushdown actually fire in the plan (SURVEY.md §4);
  *  - missing partition key / inverted range are empty, not errors.
  */
class IngestQuerySpec extends SparkSuite with TableDrivenPropertyChecks {

  private lazy val base: String = {
    val dir = tmpDir("graft_ingest_spec")
    BlockWriter.write(Tables.events(spark, sf).drop("ts", "ts_t"),
      dir, partitionCol = "user_id", keyCol = "ts_us",
      numBuckets = 8, maxRecordsPerFile = 64)
    dir
  }

  private def queryCount(pk: Long, lo: Long, hi: Long): Long =
    RangeQuery.query(spark, base, "user_id", "ts_us",
      lit(pk), lit(lo), lit(hi), numBuckets = 8).count()

  private def directCount(pk: Long, lo: Long, hi: Long): Long =
    Tables.events(spark, sf)
      .filter(col("user_id") === pk && col("ts_us").between(lo, hi)).count()

  test("round trip: ingest then full-range query preserves every row") {
    val total = Tables.events(spark, sf).count()
    assert(spark.read.parquet(base).count() === total)
  }

  test("inclusive range bounds match an in-memory filter across ranges") {
    val bounds = Tables.events(spark, sf)
      .agg(min(col("ts_us")), max(col("ts_us"))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = hi - lo
    val cases = Table(
      ("pk", "lo", "hi"),
      (13L, lo, hi),                      // everything
      (13L, lo + span / 4, hi - span / 4), // interior
      (13L, lo, lo),                      // degenerate single point
      (13L, hi + 1, hi + 2),              // past the end -> empty
      (7L,  lo + span / 3, lo + 2 * span / 3),
      (0L,  lo, hi)
    )
    forAll(cases) { (pk, l, h) =>
      assert(queryCount(pk, l, h) === directCount(pk, l, h))
    }
  }

  test("boundary rows are included on both ends (inclusive semantics)") {
    // Pick an actual event of user 13 and query exactly [ts, ts].
    val ts = Tables.events(spark, sf).filter(col("user_id") === 13L)
      .select(col("ts_us")).head().getLong(0)
    assert(queryCount(13L, ts, ts) >= 1)
  }

  test("missing partition key and inverted range are empty, not errors") {
    assert(queryCount(999999L, 0L, Long.MaxValue / 2) === 0)
    assert(queryCount(13L, 100L, 0L) === 0)
  }

  test("maxRecordsPerFile bounds every block file (reference MaxSize)") {
    val counts = spark.read.parquet(base)
      .withColumn("file", input_file_name())
      .groupBy(col("file")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(counts <= 64)
  }

  test("plan prunes partitions and pushes the range filter into the scan") {
    val df = RangeQuery.query(spark, base, "user_id", "ts_us",
      lit(13L), lit(0L), lit(Long.MaxValue / 2), numBuckets = 8)
    val (partFilters, pushed) = RangeQuery.scanFilters(df)
    assert(partFilters.exists(_.contains("bucket")), s"no bucket partition filter in $partFilters")
    assert(pushed.exists(_.contains("user_id")), s"user_id not pushed: $pushed")
    assert(pushed.exists(_.contains("ts_us")), s"ts_us range not pushed: $pushed")
  }

  test("compaction shrinks file count, preserves rows and pruned queries") {
    val dst = tmpDir("graft_compact_spec")
    BlockWriter.compact(spark, base, dst, "user_id", "ts_us")
    def nFiles(dir: String): Long =
      spark.read.parquet(dir).select(input_file_name()).distinct().count()
    assert(nFiles(dst) < nFiles(base))
    assert(spark.read.parquet(dst).count() === spark.read.parquet(base).count())
    val got = RangeQuery.query(spark, dst, "user_id", "ts_us",
      lit(13L), lit(0L), lit(Long.MaxValue / 2), numBuckets = 8)
    assert(got.count() === directCount(13L, 0L, Long.MaxValue / 2))
    val (partFilters, _) = RangeQuery.scanFilters(got)
    assert(partFilters.exists(_.contains("bucket")))
  }

  test("content-addressed naming: deterministic names, re-ingest is a no-op") {
    // block.go:94-115 reproduced (r14): block names are the md5 of their
    // bytes, so (a) writing the SAME data twice — to different dirs —
    // yields the identical name set, and (b) appending an identical
    // batch to an existing layout dedupes at the storage layer (the
    // renamed newcomers collide with stored blocks and are deleted),
    // which is the reference's retry-requeue idempotency: re-delivery
    // can never double rows.
    val df = Tables.events(spark, sf).drop("ts", "ts_t")
      // one deterministic row order so both writes produce byte-identical
      // files (parquet bytes depend on row order within each file)
      .orderBy(col("event_id"))
    def names(dir: String): Set[String] = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val out = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet"))
          out += (p.getParent.getName + "/" + p.getName)
      }
      out.toSet
    }
    val (d1, d2) = (tmpDir("graft_ca1"), tmpDir("graft_ca2"))
    for (d <- Seq(d1, d2)) {
      BlockWriter.write(df, d, partitionCol = "user_id", keyCol = "ts_us",
        numBuckets = 4, maxRecordsPerFile = 256)
      BlockWriter.contentAddress(spark, d)
    }
    val n1 = names(d1)
    assert(n1 === names(d2), "same content must produce the same block names")
    assert(n1.nonEmpty && n1.forall(_.split('/').last.startsWith("block-")))
    // re-ingest of the identical batch: appended part files dedupe away
    val rows = spark.read.parquet(d1).count()
    BlockWriter.append(df, d1, partitionCol = "user_id", keyCol = "ts_us",
      numBuckets = 4, maxRecordsPerFile = 256)
    BlockWriter.contentAddress(spark, d1)
    assert(names(d1) === n1, "identical re-ingest must leave the name set unchanged")
    assert(spark.read.parquet(d1).count() === rows, "re-delivery must not double rows")
    // ...and the range-query path is name-agnostic: results unchanged
    val pk = df.select(col("user_id")).head.getLong(0)
    val got = RangeQuery.query(spark, d1, "user_id", "ts_us",
      lit(pk), lit(Long.MinValue), lit(Long.MaxValue), numBuckets = 4).count()
    assert(got === df.filter(col("user_id") === pk).count())
  }

  test("content addressing is batching-independent: cross-pass twins keep max(j,m) copies") {
    // The r14 ADVICE bug class: a batch carrying TWO byte-identical files
    // whose content was already stored by an earlier pass used to delete
    // BOTH newcomers (each matched the stored name at k=0), silently
    // dropping one file's rows. The fixed semantics: every newcomer
    // consumes one name per pass — stored copies after the pass =
    // max(previously stored, this batch's multiplicity) — so redelivery
    // of a whole batch is a no-op AND within-batch duplicates survive no
    // matter how earlier passes were batched.
    val dir = tmpDir("graft_ca_twins")
    spark.range(10).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    def blocks: Set[String] = {
      val it = fs.listFiles(root, true)
      val out = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val n = it.next().getPath.getName
        if (n.endsWith(".parquet")) out += n
      }
      out.toSet
    }
    // pass 1: one copy stored under its content name
    BlockWriter.contentAddress(spark, dir)
    val stored = blocks
    assert(stored.size === 1 && stored.head.startsWith("block-"))
    val hex = stored.head.stripPrefix("block-").stripSuffix(".parquet")
    def deliverTwins(): Unit =
      for (nm <- Seq("part-twin-a.parquet", "part-twin-b.parquet"))
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(root, stored.head),
          fs, new org.apache.hadoop.fs.Path(root, nm), false, conf)
    // pass 2: two byte-identical newcomers vs one stored copy → max(1,2)=2
    deliverTwins()
    BlockWriter.contentAddress(spark, dir)
    assert(blocks === Set(s"block-$hex.parquet", s"block-$hex-1.parquet"),
      "one twin must dedupe against the stored copy, the other must survive")
    assert(spark.read.parquet(dir).count() === 20L, "a twin's rows were dropped")
    // pass 3: redelivering the same 2-twin batch is a pure no-op
    deliverTwins()
    BlockWriter.contentAddress(spark, dir)
    assert(blocks === Set(s"block-$hex.parquet", s"block-$hex-1.parquet"))
    assert(spark.read.parquet(dir).count() === 20L)
  }

  test("writeByKey reference-faithful layout round-trips a range query") {
    val dir = tmpDir("graft_bykey_spec")
    BlockWriter.writeByKey(Tables.events(spark, sf).drop("ts", "ts_t"),
      dir, "user_id", "ts_us", maxRecordsPerFile = 64)
    val got = RangeQuery.queryByKey(spark, dir, "user_id", "ts_us",
      lit(13L), lit(0L), lit(Long.MaxValue / 2)).count()
    assert(got === directCount(13L, 0L, Long.MaxValue / 2))
  }

  test("additive schema evolution: appended column surfaces, old rows read NULL") {
    val dir = tmpDir("graft_evolve_spec")
    val e = Tables.events(spark, sf).drop("ts", "ts_t")
    // v1 batch: users 0..7, no `score` column (sf0.001 has users 0..14)
    BlockWriter.write(e.filter(col("user_id") < 8), dir,
      partitionCol = "user_id", keyCol = "ts_us", numBuckets = 4,
      maxRecordsPerFile = 64)
    // v2 batch: users 8.., evolved with a nullable double `score`
    BlockWriter.append(
      e.filter(col("user_id") >= 8).withColumn("score", col("value") * 2),
      dir, partitionCol = "user_id", keyCol = "ts_us", numBuckets = 4,
      maxRecordsPerFile = 64)
    def q(user: Long) = RangeQuery.queryEvolved(spark, dir, "user_id", "ts_us",
      lit(user), lit(0L), lit(Long.MaxValue / 2), numBuckets = 4)
    // evolved column exists for both eras; pre-evolution rows are NULL
    val oldEra = q(3L)
    assert(oldEra.columns.contains("score"))
    assert(oldEra.count() === directCount(3L, 0L, Long.MaxValue / 2))
    assert(oldEra.filter(col("score").isNotNull).count() === 0L)
    val newEra = q(13L)
    assert(newEra.count() === directCount(13L, 0L, Long.MaxValue / 2))
    assert(newEra.filter(col("score").isNull).count() === 0L)
    // partition pruning still fires through the merged-schema read
    val (partFilters, _) = RangeQuery.scanFilters(q(3L))
    assert(partFilters.exists(_.contains("bucket")))
  }

  test("foreign files in a partition dir are ignored under lenient parity mode") {
    // the reference skips filenames its zone-map parser can't read
    // (block.go:149-174); opt-in parity reproduces that tolerance.
    val dir = tmpDir("graft_foreign_spec")
    BlockWriter.write(Tables.events(spark, sf).drop("ts", "ts_t"),
      dir, partitionCol = "user_id", keyCol = "ts_us",
      numBuckets = 4, maxRecordsPerFile = 64)
    val bucketDir = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).head
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(bucketDir.getPath, "junk.parquet"),
      "this is not a parquet file")
    val got = RangeQuery.query(spark, dir, "user_id", "ts_us",
      lit(13L), lit(0L), lit(Long.MaxValue / 2), numBuckets = 4,
      tolerateForeignFiles = true).count()
    assert(got === directCount(13L, 0L, Long.MaxValue / 2))
  }

  test("foreign files in the bucket being looked up are ignored under lenient parity mode") {
    val dir = tmpDir("graft_foreign_target_spec")
    BlockWriter.write(Tables.events(spark, sf).drop("ts", "ts_t"),
      dir, partitionCol = "user_id", keyCol = "ts_us",
      numBuckets = 4, maxRecordsPerFile = 64)
    val bucket = BlockWriter.bucketFor(spark, lit(13L), 4).get
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, s"bucket=$bucket", "junk.parquet"),
      "this is not a parquet file")
    val got = RangeQuery.query(spark, dir, "user_id", "ts_us",
      lit(13L), lit(0L), lit(Long.MaxValue / 2), numBuckets = 4,
      tolerateForeignFiles = true).count()
    assert(got === directCount(13L, 0L, Long.MaxValue / 2))
  }

  test("a non-constant key reads past foreign files under lenient parity mode") {
    // The root read's schema must not come from whichever file Spark
    // lists first: `junk.parquet` sorts before every `part-` file.
    val dir = tmpDir("graft_foreign_root_spec")
    BlockWriter.write(Tables.events(spark, sf).drop("ts", "ts_t"),
      dir, partitionCol = "user_id", keyCol = "ts_us",
      numBuckets = 4, maxRecordsPerFile = 64)
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .foreach(b => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(b.getPath, "junk.parquet"), "this is not a parquet file"))
    val got = RangeQuery.query(spark, dir, "user_id", "ts_us",
      col("user_id"), lit(0L), lit(Long.MaxValue / 2), numBuckets = 4,
      tolerateForeignFiles = true).count()
    assert(got === Tables.events(spark, sf).count())
  }

  test("an INT literal key finds the rows of a BIGINT partition column") {
    // The bucket hash depends on the key's type: hashing lit(7) as an INT
    // picked another bucket and returned no rows.
    val s = spark
    import s.implicits._
    val dir = tmpDir("graft_int_key_spec")
    val df = (0L until 512L).map(i => (i % 16, i, s"p$i")).toDF("user_id", "ts_us", "payload")
    BlockWriter.write(df, dir, partitionCol = "user_id", keyCol = "ts_us")
    def count(key: org.apache.spark.sql.Column): Long =
      RangeQuery.query(spark, dir, "user_id", "ts_us", key, lit(0L), lit(Long.MaxValue)).count()
    assert(count(lit(7L)) === 32L)
    assert(count(lit(7)) === 32L)
  }
}
