package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.Filter

/** Minimal bridge into `private[sql]` surface: wrapping a custom
  * [[LogicalPlan]] node into a DataFrame has no public API (the standard
  * extension-library technique — a one-liner in the `org.apache.spark.sql`
  * namespace — rather than reflection). Everything else in graft uses
  * public APIs only; keep it that way.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  /** The predicate→data-source-Filter translation Spark's own scan
    * planning runs (`DataSourceStrategy.translateFilter`) — used by
    * `Snapshots.readWhere` so its stats pruning understands EXACTLY the
    * filter shapes a pushdown-capable source would receive, instead of a
    * divergent home-grown translation.
    */
  def translateFilter(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = false)

  /** Resolve a user `Column` predicate against `schema` and translate its
    * conjuncts to data-source Filters. A Spark 4 Column is a LAZY ColumnNode
    * tree (`UnresolvedFunction(">")`, not catalyst `GreaterThan`), so the
    * only faithful route to Filter shapes is the analyzer itself: plan
    * `filter(cond)` over an empty frame with the table's schema (analysis
    * resolves functions and binds attributes; zero IO), fold constant
    * subtrees (so `lit("2024-01-15").cast("date")` prunes like a typed
    * literal), then run the standard translation.
    */
  def pushableFilters(spark: org.apache.spark.sql.SparkSession,
                      schema: org.apache.spark.sql.types.StructType,
                      cond: org.apache.spark.sql.Column): Seq[Filter] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val classic = spark.asInstanceOf[SparkSession]
    val probe = classic.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema).filter(cond)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val conds = probe.queryExecution.analyzed.collect {
      case f: LFilter => conjuncts(f.condition)
    }.flatten
    conds.map(_.transformUp {
      case x if x.foldable && x.deterministic && !x.isInstanceOf[Literal] =>
        try Literal.create(x.eval(null), x.dataType)
        catch { case _: Exception => x }
    }).flatMap(translateFilter)
  }

  /** Rebuild `df` as a STREAMING DataFrame (same rows, `isStreaming=true`)
    * — what a V1 streaming `Source.getBatch` must return; the engine
    * asserts the flag. Identical to how Spark's own FileStreamSource and
    * MemoryStream surface their batches.
    */
  def asStreamingBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    classic.sparkSession.internalCreateDataFrame(
      classic.queryExecution.toRdd, classic.schema, isStreaming = true)
  }

  /** The inverse of [[asStreamingBatch]], for the SINK side: a V1
    * `Sink.addBatch` receives a STREAMING-flagged frame on which batch
    * writes are illegal — rewrap its incremental execution as a plain
    * batch frame (what the engine itself does for `foreachBatch`).
    */
  def asBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    classic.sparkSession.internalCreateDataFrame(
      classic.queryExecution.toRdd, classic.schema, isStreaming = false)
  }

  /** Write `df` as Parquet files into the fresh directory `path` — the job
    * `df.write.parquet(path)` runs (same file format, commit protocol,
    * session settings and Spark's basic write-stats tracker, under its own
    * SQL execution id), with `tracker` also seeing every written row. The
    * public writer has no way to attach a tracker; Delta writes its files
    * through the same internal call.
    */
  def writeParquet(df: org.apache.spark.sql.DataFrame, path: String,
                   tracker: org.apache.spark.sql.execution.datasources.WriteJobStatsTracker): Unit = {
    import org.apache.spark.internal.io.FileCommitProtocol
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.util.SerializableConfiguration
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val options = Map("path" -> path)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString, outputPath = path)
    val basic = new BasicWriteJobStatsTracker(
      new SerializableConfiguration(hadoopConf), BasicWriteJobStatsTracker.metrics)
    SQLExecution.withNewExecutionId(qe, Some(s"parquet $path")) {
      FileFormatWriter.write(spark, qe.executedPlan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, qe.optimizedPlan.output), hadoopConf,
        partitionColumns = Nil, bucketSpec = None, statsTrackers = Seq(basic, tracker),
        options = options)
    }
  }

  /** `df`'s rows as the engine's internal row RDD. */
  def toRdd(df: org.apache.spark.sql.DataFrame): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[Dataset[org.apache.spark.sql.Row]].queryExecution.toRdd

  /** V1 streaming offsets for a monotone long (snapshot version). The
    * engine hands back a [[SerializedOffset]] after a checkpoint restart —
    * both shapes must parse.
    */
  def versionOffset(v: Long): OffsetV1 = LongOffset(v)

  def offsetVersion(o: OffsetV1): Long = o match {
    case LongOffset(v)       => v
    case SerializedOffset(j) => j.trim.toLong
    case other               => other.json.trim.toLong
  }
}
