package graft.query

import java.io.{FileNotFoundException, IOException}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{IntegerType, StructType}
import graft.ingest.BlockWriter

/** The reference's one query operator: `Query(partitionKey, startKey,
  * endKey)` — all rows of one entity whose key column falls in the
  * inclusive range (/root/reference/storageAdapter.go:4,
  * filesystemStorageAdapter.go:128-163, block.go:117-141).
  *
  * In Spark this is a single declarative plan over the entity's bucket
  * directory, which the driver picks (see [[RangeQuery.query]]): Parquet
  * footer min/max stats skip files outside the key range (the filename-zone-map of block.go:143-199),
  * and the residual row filter is pushed into the scan. Both range ends are
  * inclusive, matching block.go:127-129; `between` is inclusive.
  */
object RangeQuery {

  /** Query a layout produced by [[BlockWriter.write]].
    *
    * When `partitionKey` is a constant, the driver plans the lookup as the
    * reference does (filesystemStorageAdapter.go:128-163: list only the
    * entity's directory):
    *  - one root listing finds the `bucket=N` directories;
    *  - the schema comes from the footer of the first data file, read on
    *    the driver ([[Bridge.parquetSchema]]), and is handed to the reader,
    *    so no schema-inference job runs;
    *  - the key is cast to the partition column's type, and
    *    [[BlockWriter.bucketFor]] picks its bucket;
    *  - only `<base>/bucket=N` is read, with `basePath` set so `bucket`
    *    stays a partition column. A bucket with no directory holds no
    *    rows: the result is an empty local frame, and nothing runs.
    * The three filters are the same as the root read's, so the scan still
    * carries the bucket partition filter and the pushed range.
    *
    * Everything else reads the root and leaves pruning to Spark: a key
    * that is not a constant, and a [[graft.streaming.StreamIngest]] sink
    * (a `_spark_metadata` log under `base`), whose files are visible only
    * through that commit log. A root of 64 buckets is over Spark's
    * parallel-discovery threshold (32), so that read lists in a Spark job.
    * Under `tolerateForeignFiles` a non-constant key's root read also
    * gets its schema from the first readable footer ([[listLayout]]).
    *
    * `tolerateForeignFiles` reproduces the reference's lenient listing
    * (block.go:149-174: filenames that don't parse are skipped, so foreign
    * files dropped into a partition dir are ignored, not errors). Default
    * is Spark's fail-fast — at 100 TB a corrupt file silently skipped can
    * mask data loss, so leniency is opt-in parity, not the default. Under
    * it, files whose footer does not read are also skipped when the
    * schema footer is picked.
    */
  def query(spark: SparkSession, base: String, partitionCol: String, keyCol: String,
            partitionKey: Column, startKey: Column, endKey: Column,
            numBuckets: Int = BlockWriter.DefaultBuckets,
            tolerateForeignFiles: Boolean = false): DataFrame = {
    val reader =
      if (tolerateForeignFiles) spark.read.option("ignoreCorruptFiles", "true")
      else spark.read
    val inRange = col(keyCol).between(startKey, endKey)
    // A constant key, or a root read under tolerateForeignFiles, lists the
    // layout on the driver; a plain non-constant key leaves it to Spark.
    val constant = BlockWriter.bucketFor(spark, partitionKey, numBuckets).isDefined
    val listed =
      if (constant || tolerateForeignFiles) listLayout(spark, base, tolerateForeignFiles)
      else None
    val bucketed =
      if (constant) listed.flatMap(bucketRead(spark, reader, base, _, partitionCol, partitionKey, numBuckets))
      else None
    bucketed match {
      case Some((df, bucket, key)) =>
        df.filter(col("bucket") === bucket && col(partitionCol) === key && inRange)
      case None =>
        val root = if (!tolerateForeignFiles) reader
          else listed.flatMap(_.dataSchema).fold(reader)(s => reader.schema(s.add("bucket", IntegerType)))
        root.parquet(base)
          .filter(col("bucket") === pmod(xxhash64(partitionKey), lit(numBuckets)).cast("int") &&
            col(partitionCol) === partitionKey && inRange)
    }
  }

  /** A bucketed layout as listed on the driver: its `bucket=N` dirs in
    * number order, and the schema of the first data file, in bucket and
    * name order, whose footer reads (hidden names such as `_SUCCESS`,
    * `.crc` and sidecars skipped). Spark's own inference reads only the
    * first file it lists, so under `tolerateForeignFiles` a foreign file
    * listed first (`junk.parquet` sorts before `part-`) would fail the
    * whole read; unreadable footers are skipped only then.
    */
  private case class Layout(buckets: Seq[(Int, Path)], dataSchema: Option[StructType])

  /** One root listing of `base`; None when it does not exist or is a
    * streaming sink, whose files are visible only through its log.
    */
  private def listLayout(spark: SparkSession, base: String,
                         tolerateForeignFiles: Boolean): Option[Layout] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(base)
    val fs = root.getFileSystem(conf)
    val entries = try fs.listStatus(root) catch { case _: FileNotFoundException => return None }
    if (entries.exists(_.getPath.getName == "_spark_metadata")) return None
    val buckets = entries.toSeq.flatMap { st =>
      st.getPath.getName match {
        case BucketDir(n) if st.isDirectory => Some(n.toInt -> st.getPath)
        case _ => None
      }
    }.sortBy(_._1)
    def dataFiles(dir: Path): Iterator[FileStatus] =
      fs.listStatus(dir).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.getName).iterator
    val dataSchema = buckets.iterator.flatMap { case (_, dir) => dataFiles(dir) }.flatMap { st =>
      try Some(Bridge.parquetSchema(spark, st, conf))
      catch { case _: IOException | _: RuntimeException if tolerateForeignFiles => None }
    }.nextOption()
    Some(Layout(buckets, dataSchema))
  }

  /** The driver-planned read of a constant key's bucket, with its bucket
    * and the key cast to the partition column's type; `None` keeps the
    * root read (see [[query]]).
    */
  private def bucketRead(spark: SparkSession, reader: DataFrameReader, base: String,
                         layout: Layout, partitionCol: String, partitionKey: Column,
                         numBuckets: Int): Option[(DataFrame, Int, Column)] =
    for {
      data <- layout.dataSchema
      field <- data.find(_.name == partitionCol)
      key = partitionKey.cast(field.dataType)
      bucket <- BlockWriter.bucketFor(spark, key, numBuckets)
    } yield {
      val schema = data.add("bucket", IntegerType)
      val df = layout.buckets.collectFirst { case (`bucket`, dir) => dir } match {
        case Some(dir) => reader.schema(schema).option("basePath", base).parquet(dir.toString)
        case None => spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      }
      (df, bucket, key)
    }

  private val BucketDir = "bucket=(\\d+)".r

  /** [[query]] over a layout whose batches carry evolved (additive)
    * schemas — `mergeSchema` unions the per-file Parquet schemas, so rows
    * written before a column existed surface it as NULL. Merge is a
    * footer-only operation (no data read) but does touch every footer at
    * planning time; production layouts snapshot the merged schema in a
    * catalog rather than re-deriving it per query.
    */
  def queryEvolved(spark: SparkSession, base: String, partitionCol: String, keyCol: String,
                   partitionKey: Column, startKey: Column, endKey: Column,
                   numBuckets: Int = BlockWriter.DefaultBuckets): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(base)
      .filter(col("bucket") === pmod(xxhash64(partitionKey), lit(numBuckets)).cast("int") &&
        col(partitionCol) === partitionKey &&
        col(keyCol).between(startKey, endKey))

  /** Query a [[BlockWriter.writeByKey]] (reference-faithful) layout. */
  def queryByKey(spark: SparkSession, base: String, partitionCol: String, keyCol: String,
                 partitionKey: Column, startKey: Column, endKey: Column): DataFrame =
    spark.read.parquet(base)
      .filter(col(partitionCol) === partitionKey && col(keyCol).between(startKey, endKey))

  /** Plan introspection for tests: (partitionFilters, pushedFilters) of the
    * first parquet scan — asserts the two reference optimizations
    * (SURVEY.md §4) actually fire.
    */
  def scanFilters(df: DataFrame): (Seq[String], Seq[String]) = {
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    val partFilters = scans.flatMap(_.partitionFilters).map(_.toString)
    val pushed = scans.flatMap(_.metadata.get("PushedFilters")).filter(_ != "[]")
    (partFilters, pushed)
  }
}
