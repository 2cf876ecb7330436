package graft.ingest

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

/** Batch ingestion with the reference's storage semantics, re-expressed for
  * Spark + Parquet (SURVEY.md §1.2, §2.1 #4-#11).
  *
  * Reference behavior (/root/reference/blockManager.go:29-72,
  * filesystemStorageAdapter.go:30-61): rows are hash-grouped by a string
  * PartitionColumn into per-partition block files of ≤ MaxSize rows; each
  * block file's name carries the KeyColumn min/max so queries can skip
  * blocks without opening them (block.go:109-115, 143-199).
  *
  * Spark mapping:
  *  - partition dirs  ← `partitionBy(bucket)` (Hive-style layout);
  *  - block size cap  ← `maxRecordsPerFile`;
  *  - filename zone-map ← Parquet footer min/max stats (automatic), made
  *    *effective* by sorting rows within each partition on
  *    (partitionCol, keyCol) so every file covers a narrow key range;
  *  - content-hash idempotency ← Spark's file commit protocol for
  *    in-flight atomicity, plus [[contentAddress]] as the ANALOGUE of
  *    block.go:94-115: blocks named by a content hash, so re-ingesting
  *    identical content is a storage-level no-op (see the caveats on
  *    [[contentAddress]] — the mechanism differs from the reference's).
  *
  * Scale note: the reference partitions by the raw entity key — one
  * directory per user. At 100 TB / millions of users that is a small-files
  * catastrophe, so we partition by a *bucket* of the key
  * (`pmod(xxhash64(key), numBuckets)`) and cluster by (key, time) inside
  * each bucket: partition pruning still eliminates (buckets-1)/buckets of
  * the data for a point lookup, and footer stats prune within the bucket.
  * Readers find a key's bucket with [[bucketFor]], which folds the same
  * expression [[bucketCol]] writes with, so the two cannot disagree.
  *
  * Storage seam: `base` is a Hadoop-filesystem URI, not a local path —
  * `file:///...` here, `abfss://container@account.dfs.core.windows.net/...`
  * on Azure (the reference's other adapter, azureStorageAdapter.go:34-227).
  * The swap needs only hadoop-azure on the classpath (unavailable in this
  * offline build): the ABFS connector then provides what the reference
  * hand-rolls — staged 4 MB block uploads with a final block-list commit
  * (azureStorageAdapter.go:34-65) and prefix-scoped paginated listing
  * (:119-147). SourcesSpec pins the URI-agnostic contract via file://.
  */
object BlockWriter {

  val DefaultBuckets = 64
  val DefaultMaxRecordsPerFile = 8192L // reference MaxSize, blockManager_test.go:19

  def bucketCol(partitionCol: String, numBuckets: Int): Column =
    bucketOf(col(partitionCol), numBuckets)

  /** The bucket a row whose partition value is the constant `key` is
    * written to: [[bucketCol]]'s `pmod(xxhash64(key), numBuckets)`,
    * analysed and evaluated on the driver, with no job. The hash depends
    * on the key's type (an INT 7 and a BIGINT 7 hash differently), so
    * cast `key` to the partition column's type first. `None` when `key`
    * is not foldable (a column reference, a non-deterministic call).
    */
  def bucketFor(spark: SparkSession, key: Column, numBuckets: Int): Option[Int] = {
    val analyzed =
      try Some(spark.emptyDataFrame.select(key, bucketOf(key, numBuckets)).queryExecution.analyzed)
      catch { case _: AnalysisException => None } // refers to columns
    analyzed.collect {
      case Project(Seq(Alias(k, _), bucket), _) if k.foldable => bucket.eval(null).asInstanceOf[Int]
    }
  }

  private def bucketOf(key: Column, numBuckets: Int): Column =
    pmod(xxhash64(key), lit(numBuckets)).cast("int")

  /** Write `df` as a partitioned, key-clustered Parquet layout under `base`. */
  def write(df: DataFrame, base: String, partitionCol: String, keyCol: String,
            numBuckets: Int = DefaultBuckets,
            maxRecordsPerFile: Long = DefaultMaxRecordsPerFile): Unit = {
    df.withColumn("bucket", bucketCol(partitionCol, numBuckets))
      .repartition(numBuckets, col("bucket"))
      .sortWithinPartitions(col("bucket"), col(partitionCol), col(keyCol))
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("bucket")
      .parquet(base)
  }

  /** Append a new batch to an existing [[write]] layout. The batch may
    * carry an EVOLVED schema (added nullable columns): Parquet stores each
    * file's own schema, and [[graft.query.RangeQuery.queryEvolved]] merges
    * footers at read time — the additive schema-evolution path the
    * reference's fixed-Avro-codec design rules out (SURVEY.md §1.3 "no
    * evolution"). Column renames/drops/retypes are NOT supported this way;
    * those need a rewrite (compact with a projection).
    */
  def append(df: DataFrame, base: String, partitionCol: String, keyCol: String,
             numBuckets: Int = DefaultBuckets,
             maxRecordsPerFile: Long = DefaultMaxRecordsPerFile): Unit = {
    df.withColumn("bucket", bucketCol(partitionCol, numBuckets))
      .repartition(numBuckets, col("bucket"))
      .sortWithinPartitions(col("bucket"), col(partitionCol), col(keyCol))
      .write
      .mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("bucket")
      .parquet(base)
  }

  /** Small-files compaction: re-read a [[write]] layout and rewrite it with
    * a larger per-file cap, preserving the bucket dirs and re-clustering on
    * (partitionCol, keyCol) so footer-stats pruning stays tight.
    *
    * This is the Spark form of the reference's committed-block re-ingestion
    * path (/root/reference/fileStreamAdapter_test.go:13-17 reads a stored
    * block back through the stream source — SURVEY.md §3.3 flags that as
    * the compaction enabler). Streaming ingest under a short MaxAge
    * produces many small blocks (8192-row cap, 1 s flush); at 100 TB the
    * periodic compactor is what keeps file counts — and therefore listing
    * and task-scheduling overhead — bounded.
    *
    * Writes to `dstBase` (an in-place rewrite would read and clobber the
    * same files); callers swap directories after success.
    */
  def compact(spark: SparkSession, srcBase: String, dstBase: String,
              partitionCol: String, keyCol: String,
              maxRecordsPerFile: Long = 4 * 1024 * 1024): Unit = {
    spark.read.parquet(srcBase)
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col(partitionCol), col(keyCol))
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("bucket")
      .parquet(dstBase)
  }

  /** Content-addressed block naming — ANALOGOUS to the reference's
    * storage-level idempotency, not a literal reproduction. The reference
    * names a block `<startKey>-<endKey>-<base32(sha1 of the Avro-encoded
    * rows)>` (block.go:94-115 hashes row content; the name is assembled
    * at block.go:109-115 with key-range prefixes), so its idempotency is
    * ROW-identity. Here the name is `block-<md5-of-file-bytes>.parquet`:
    * byte-identity, which is strictly weaker — the same rows re-encoded
    * in a different order or by a different Parquet writer produce
    * different bytes (IngestQuerySpec forces a deterministic orderBy for
    * exactly this reason). Key ranges ride in the Parquet footer instead
    * of the name. Within those caveats the recovery semantics match:
    * a retried upload of the same block bytes converges to one stored
    * object (filesystemStorageAdapter.go:63-81's retry-requeue loop).
    *
    * Collision semantics (deterministic, batching-INDEPENDENT): after
    * ingesting a batch containing m byte-identical copies of content X
    * onto storage already holding j copies, exactly max(j, m) copies
    * exist. Each newcomer first consumes one already-stored name (a
    * delete — the re-delivered-duplicate no-op), and only copies beyond
    * the stored count rename to fresh ordinal suffixes — so a same-batch
    * twin set survives with its multiplicity, a redelivery of a whole
    * earlier batch is a pure no-op, and the stored row count for the
    * same logical data no longer depends on how it was batched.
    *
    * Scale shape: hashing runs as a Spark job (one task per file — the
    * bytes never touch the driver); the driver handles only the
    * file-count-sized (src → digest) list and issues metadata-only
    * renames/deletes through the base URI's own FileSystem (seam-safe:
    * works on file://, graftfs://, viewfs://, abfss://). Parquet footers,
    * sidecar stats and pruning are name-agnostic, so call this between
    * the write and any sidecar collection.
    */
  def contentAddress(spark: SparkSession, base: String): Unit = {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(base)
    val fs = root.getFileSystem(conf)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (n.startsWith("part-") && n.endsWith(".parquet"))
        parts += st.getPath.toString
    }
    if (parts.isEmpty) return
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    val digests = parts.toSeq.toDS().repartition(math.min(parts.size, 64))
      .map { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        val in = path.getFileSystem(serConf.value).open(path)
        val md = java.security.MessageDigest.getInstance("MD5")
        val buf = new Array[Byte](1 << 16)
        try {
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        (p, md.digest().map(b => java.lang.String.format("%02x", Byte.box(b))).mkString)
      }.collect()
    // Collisions: each newcomer consumes exactly ONE name per pass —
    // whether by deleting itself against an earlier pass's stored copy
    // (the re-delivered-duplicate no-op) or by renaming onto a fresh
    // ordinal (a batch with >= 2·maxRecordsPerFile identical rows splits
    // into byte-identical files that must ALL survive). Claiming the name
    // in BOTH branches is what makes the result batching-independent: a
    // same-batch twin whose content already exists from an earlier pass
    // advances past the consumed name instead of also deleting itself at
    // k=0 and silently dropping its rows (the max(j, m) invariant in the
    // scaladoc). Processing in sorted-src order keeps the suffix
    // assignment — and hence the name set — deterministic.
    val claimedThisPass = scala.collection.mutable.Set.empty[String]
    digests.sortBy(_._1).foreach { case (src, hex) =>
      val srcPath = new org.apache.hadoop.fs.Path(src)
      val dir = srcPath.getParent
      def target(k: Int): org.apache.hadoop.fs.Path =
        new org.apache.hadoop.fs.Path(dir,
          if (k == 0) s"block-$hex.parquet" else s"block-$hex-$k.parquet")
      var k = 0
      var done = false
      while (!done) {
        val dst = target(k)
        val key = dst.toString
        if (claimedThisPass(key)) k += 1 // name consumed this pass: advance
        else if (fs.exists(dst)) {       // stored by an earlier pass: no-op,
          fs.delete(srcPath, false)      // but the name is consumed so a
          claimedThisPass += key         // same-batch twin takes the next one
          done = true
        } else if (fs.rename(srcPath, dst)) {
          claimedThisPass += key
          done = true
        } else throw new java.io.IOException(
          s"content-address rename failed: $src -> $dst")
      }
    }
  }

  /** Reference-faithful layout: one directory per raw partition-key value
    * (`<base>/<pk>/...`, filesystemStorageAdapter.go:26-28). Only sane for
    * low-cardinality keys; kept for parity tests.
    */
  def writeByKey(df: DataFrame, base: String, partitionCol: String, keyCol: String,
                 maxRecordsPerFile: Long = DefaultMaxRecordsPerFile): Unit = {
    df.sortWithinPartitions(col(partitionCol), col(keyCol))
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(base)
  }
}
