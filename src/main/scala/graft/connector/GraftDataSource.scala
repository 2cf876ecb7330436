package graft.connector

import graft.ingest.{FileStats, Snapshots}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider, TruncatableTable}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `format("graft")` — the Snapshots table layer as a standard Spark data
  * source, so the table format is reachable from SQL (`CREATE TABLE t
  * USING graft OPTIONS (path '…')`), `spark.read`, and `readStream`
  * without touching the Scala API:
  *
  *  - **batch read** with time travel (`versionAsOf`), named refs (`tag`),
  *    and branch heads (`branch`) as reader options;
  *  - **planning-time file pruning**: pushed filters meet the commit-time
  *    footer stats ([[FileStats]]) and files that provably contain no
  *    matching row never reach the scan — the connector is where
  *    Catalyst's pushdown machinery and the manifest layer actually meet;
  *  - **streaming read**: each micro-batch is the file-list diff between
  *    snapshot versions ([[Snapshots.changes]]), giving a Delta-style
  *    "table as a stream of appends" with exactly-once offsets
  *    checkpointed by the engine;
  *  - **change data feed** (`readChangeFeed true`): batch reads replay
  *    [[Snapshots.changeFeed]] — every commit in
  *    [`startingVersion` (inclusive, default 1), `endingVersion`
  *    (inclusive, default latest)] as rows with `_change_type` /
  *    `_commit_version` / `_commit_ts`; the same option on `readStream`
  *    turns each micro-batch into the per-commit CDC delta (deletes
  *    included), Delta CDF's shape.
  *
  * Execution strategy: the scan surfaces through [[V1Scan]], so the rows
  * come from a full Catalyst-planned inner DataFrame
  * ([[Snapshots.scanPinned]]) — deletion-vector subtraction, field-id era
  * schemas, and parquet row-group pushdown all ride along instead of
  * being reimplemented in a bespoke `PartitionReader`. The known cost of
  * that bridge: `buildScan` returns `df.rdd`, whose `InternalRow → Row`
  * materialization breaks the inner scan out of whole-stage codegen — a
  * per-row conversion tax on scan-bound queries. Scan-dominated batch
  * jobs that care should read through the Scala API
  * (`Snapshots.read`/`readWhere`), which plans natively; the connector
  * optimizes for SQL/engine integration, not for being the fastest path
  * to bulk rows. Writes stay on the Snapshots API: commit/merge/DV-delete
  * are multi-file atomic protocols with conflict detection, which the
  * blind per-task `BatchWrite` contract can't express faithfully.
  *
  * The reference stops at a storage adapter behind a Query RPC
  * (/root/reference/storageAdapter.go:4); this is the corresponding
  * "query your stored blocks from the engine you already use" surface,
  * Spark-first.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graft"

  private def basePath(options: java.util.Map[String, String]): String = {
    val m = new CaseInsensitiveStringMap(options)
    val p = m.get("path")
    require(p != null && p.nonEmpty, "graft source requires a 'path' option")
    p
  }

  private def pinOf(options: java.util.Map[String, String]): Snapshots.Pin = {
    val m = new CaseInsensitiveStringMap(options)
    val picks = Seq(
      Option(m.get("versionAsOf")).map(v => Snapshots.Pin.AsOf(v.trim.toLong)),
      Option(m.get("tag")).map(Snapshots.Pin.AtTag(_)),
      Option(m.get("branch")).map(Snapshots.Pin.AtBranch(_))).flatten
    require(picks.size <= 1,
      "versionAsOf, tag and branch are mutually exclusive graft options")
    picks.headOption.getOrElse(Snapshots.Pin.Latest)
  }

  /** Some((fromV, toV)) when `readChangeFeed` is set: the exclusive-from /
    * inclusive-to window [[Snapshots.changeFeed]] takes, mapped from the
    * Delta-style inclusive `startingVersion`/`endingVersion` options.
    */
  private def cdcOf(options: java.util.Map[String, String]): Option[(Long, Option[Long])] = {
    val m = new CaseInsensitiveStringMap(options)
    if (!m.getBoolean("readChangeFeed", false)) return None
    require(pinOf(options) == Snapshots.Pin.Latest,
      "readChangeFeed and versionAsOf/tag/branch are mutually exclusive - " +
        "the feed window is startingVersion/endingVersion")
    val from = Option(m.get("startingVersion")).map(_.trim.toLong).getOrElse(1L) - 1
    val to = Option(m.get("endingVersion")).map(_.trim.toLong)
    Some((from, to))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (b, p) = (basePath(options), pinOf(options))
    // A not-yet-created table (streaming sink target, first batch write)
    // has no schema; reads of it still fail loudly at scan build.
    val tbl =
      if (p == Snapshots.Pin.Latest && Snapshots.versions(b).isEmpty) new StructType()
      // Era schema straight off the manifest header — no data file listed or
      // validated at inference time. Legacy header-less tables fall back to
      // planning a scan (parquet footer inference).
      else Snapshots.pinnedSchema(b, p)
        .getOrElse(Snapshots.scanPinned(SparkSession.active, b, p).schema)
    if (cdcOf(options).isEmpty) tbl else GraftChangeFeedTable.feedSchema(tbl)
  }

  /** Batch `startingVersion` WITHOUT `readChangeFeed`: an INCREMENTAL
    * append read — `spark.read.format("graft").option("startingVersion",
    * N)` returns rows committed AFTER version N (optionally bounded by
    * `endingVersion`, optionally `skipOverwrites`) — Iceberg's
    * incremental-scan surface for batch ETL that keeps its own cursor.
    * (On `readStream` the same option skips the initial snapshot; the
    * change feed gives the row-attributed form.)
    */
  private def incrementalOf(options: java.util.Map[String, String]): Option[(Long, Option[Long], Boolean)] = {
    val m = new CaseInsensitiveStringMap(options)
    if (m.getBoolean("readChangeFeed", false)) return None
    val svRaw = Option(m.get("startingVersion"))
    if (svRaw.isEmpty) {
      require(m.get("endingVersion") == null,
        "endingVersion requires startingVersion (or readChangeFeed true)")
      return None
    }
    require(pinOf(options) == Snapshots.Pin.Latest,
      "startingVersion and versionAsOf/tag/branch are mutually exclusive")
    val sv = svRaw.get.trim
    // 'latest' = after the current head: empty for a batch read, and the
    // stream resolution path (which also builds this table before
    // falling back to the V1 source) parses its own copy of the option.
    val from =
      if (sv.equalsIgnoreCase("latest"))
        Snapshots.versions(basePath(options)).sorted.lastOption.getOrElse(0L)
      else try sv.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"startingVersion must be a version number or 'latest', got '$sv'")
      }
    require(from >= 0, s"startingVersion must be >= 0, got $from")
    Some((from, Option(m.get("endingVersion")).map(_.trim.toLong),
      m.getBoolean("skipOverwrites", false)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    cdcOf(properties) match {
      case Some((from, to)) =>
        new GraftChangeFeedTable(basePath(properties), from, to, schema)
      case None => incrementalOf(properties) match {
        case Some((from, to, skipOw)) =>
          new GraftIncrementalTable(basePath(properties), from, to, skipOw, schema)
        case None =>
          new GraftTable(basePath(properties), pinOf(properties), schema)
      }
    }

  // ----- streaming (V1 Source: getOffset/getBatch over snapshot versions)

  private def streamCdc(parameters: Map[String, String]): Boolean =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("readChangeFeed") => v.trim.toBoolean
    }.getOrElse(false)

  private def streamSkipOverwrites(parameters: Map[String, String]): Boolean =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("skipOverwrites") => v.trim.toBoolean
    }.getOrElse(false)

  /** `startingVersion`: skip the initial full-table snapshot and begin
    * the feed at a version — `N` delivers changes committed AFTER
    * version N; `latest` pins the head at stream construction, so only
    * data committed after the query starts flows (Delta's semantics).
    */
  private def streamStartingVersion(parameters: Map[String, String],
                                    base: String): Option[Long] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("startingVersion") =>
        val t = v.trim
        if (t.equalsIgnoreCase("latest"))
          Snapshots.versions(base).sorted.lastOption.getOrElse(0L)
        else {
          val n = try t.toLong catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"startingVersion must be a version number or 'latest', got '$v'")
          }
          require(n >= 0, s"startingVersion must be >= 0, got $n")
          n
        }
    }

  private def streamMaxCommits(parameters: Map[String, String]): Option[Long] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("maxCommitsPerTrigger") =>
        val n = try v.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"maxCommitsPerTrigger must be a positive integer, got '$v'")
        }
        require(n >= 1, s"maxCommitsPerTrigger must be >= 1, got $n")
        n
    }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    import scala.jdk.CollectionConverters._
    val b = basePath(parameters.asJava)
    val tbl = Snapshots.pinnedSchema(b, Snapshots.Pin.Latest)
      .getOrElse(Snapshots.scanPinned(sqlContext.sparkSession, b,
        Snapshots.Pin.Latest).schema)
    (shortName(),
      if (streamCdc(parameters)) GraftChangeFeedTable.feedSchema(tbl) else tbl)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    import scala.jdk.CollectionConverters._
    val skipOw = streamSkipOverwrites(parameters)
    require(!(skipOw && streamCdc(parameters)),
      "skipOverwrites applies to the append feed only - the change feed " +
        "already skips compactions (and refuses wholesale state changes)")
    val b = basePath(parameters.asJava)
    new GraftStreamSource(sqlContext.sparkSession, b,
      cdc = streamCdc(parameters), skipOverwrites = skipOw,
      maxCommits = streamMaxCommits(parameters),
      startingVersion = streamStartingVersion(parameters, b))
  }

  /** `writeStream.format("graft")` — micro-batches become snapshot
    * commits. Append → append commit; Complete → overwrite commit (the
    * whole result, with history); Update → [[Snapshots.merge]] keyed by
    * the required `mergeKeys` option. Exactly-once across engine
    * re-deliveries via the batch-id commit tag.
    */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    import scala.jdk.CollectionConverters._
    val keys = parameters.get("mergeKeys").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val upsertMode = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("upsertMode") => v.trim.toLowerCase
    }.getOrElse("dv")
    require(upsertMode == "dv" || upsertMode == "eq",
      s"unknown upsertMode '$upsertMode' (expected dv or eq)")
    new GraftSink(basePath(parameters.asJava), outputMode, keys,
      eqUpsert = upsertMode == "eq")
  }
}

/** One pinned graft table state for the DSv2 read/write path. Batch
  * writes surface as snapshot commits through the V1 write fallback —
  * `INSERT INTO` / append = an `append` commit, `INSERT OVERWRITE` /
  * overwrite = an `overwrite` commit, and an append against a `branch`
  * option stages onto that branch (the WAP flow from SQL). SQL
  * `DELETE FROM … WHERE` maps to [[Snapshots.deleteWhereDV]] — a
  * merge-on-read metadata delete, refused loudly when a predicate shape
  * can't be translated exactly (a partial delete would be silent data
  * corruption).
  */
private[connector] class GraftTable(base: String, pin: Snapshots.Pin,
                                    tableSchema: StructType,
                                    displayName: Option[String] = None,
                                    props: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  private[connector] def tableBase: String = base
  private[connector] def tablePin: Snapshots.Pin = pin
  override def name(): String = displayName.getOrElse(s"graft.`$base`")
  override def schema(): StructType = tableSchema

  /** Row lineage surfaced the idiomatic DSv2 way: on a lineage-enabled
    * table, `SELECT _row_id, ... FROM cat.ns.t` resolves `_row_id` as a
    * METADATA COLUMN (like Spark's own `_metadata`) — absent from the
    * table schema, never in `SELECT *`, materialized only when
    * referenced. The scan route recognizes the name in its pruned schema
    * and reads through [[Snapshots.scanPinned]]'s lineage decoration, so
    * SQL sees exactly what [[Snapshots.readLineage]] serves (physical
    * ids in rewritten files, first+position elsewhere). Pin-aware: time
    * travel reads that era's ids.
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (Snapshots.rowLineageEnabled(base))
      Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = Snapshots.RowIdCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = true
        override def comment(): String =
          "durable row-lineage id (enableRowLineage)"
      })
    else Array.empty
  override def properties(): java.util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    props.asJava
  }

  /** write.check.* properties surfaced through the connector constraint
    * API (DESCRIBE shows them; ALTER TABLE DROP CONSTRAINT can remove
    * them). Enforced on NEW data by the commit path; existing rows are
    * never re-validated, hence UNVALIDATED — the documented r9 contract.
    */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    graft.connector.TableProps.checks(base).map { case (name, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(name).predicateSql(sql).enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.UNVALIDATED)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** SQL `TRUNCATE TABLE`: an empty overwrite commit — history (and time
    * travel to the pre-truncate state) is preserved, like every other
    * destructive op on the snapshot layer.
    */
  override def truncateTable(): Boolean = {
    require(pin == Snapshots.Pin.Latest,
      "TRUNCATE targets the current table state - drop the version pin")
    val spark = SparkSession.active
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), tableSchema)
    Snapshots.commit(spark, empty, base, mode = "overwrite:truncate")
    true
  }
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)
    // MERGE ... WITH SCHEMA EVOLUTION: the analyzer's
    // ResolveMergeIntoSchemaEvolution sees this capability and applies
    // the source-vs-target schema delta (top-level ADD COLUMN + safe
    // type widening — exactly the two changes MergeIntoTable.schemaChanges
    // emits) through GraftCatalog.alterTable, i.e. Snapshots.addColumn /
    // widenColumn, then reloads the target. By planning time the merge
    // sees the evolved schema; GraftRowLevel.runMerge needs no special
    // handling. The evolution commit is SEPARATE from (and precedes) the
    // merge commit — metadata-only and monotonic, so a failed merge
    // leaves a harmless added column, never torn data.
    caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    // A first write CREATES the table — there is no schema to validate
    // against yet, so accept the writer's.
    if (tableSchema.isEmpty) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(base, pin, tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(base, pin,
      Option(info.options.get("replaceWhere")).filter(_.trim.nonEmpty))

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pin == Snapshots.Pin.Latest && filters.forall(f => GraftRelation.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pin == Snapshots.Pin.Latest,
      "DELETE targets the current table state - drop the versionAsOf/tag/branch option")
    val conds = filters.map(f => GraftRelation.filterColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"cannot translate delete predicate $f exactly; a partial translation " +
          "would delete the wrong rows")))
    Snapshots.deleteWhereDV(SparkSession.active, base,
      conds.reduceOption(_ && _).getOrElse(lit(true)))
    ()
  }
}

/** `replaceWhereOpt` is the raw `replaceWhere` writer option (a SQL
  * predicate string): predicate-scoped atomic replacement with Delta's
  * written-rows-must-match enforcement. The engine-facing route is
  * [[SupportsOverwrite]]: Catalyst's overwrite-by-expression (e.g.
  * `DataFrameWriterV2.overwrite(cond)`) lands in [[overwrite]], where an
  * exact filter translation routes to the same
  * [[Snapshots.replaceWhere]] commit — WITHOUT enforcement, because
  * Spark's contract is "delete by predicate, then insert", not Delta's
  * scoped backfill. A predicate that cannot be translated EXACTLY
  * refuses (a partial translation would delete the wrong rows);
  * always-true overwrites keep the full-table overwrite path.
  */
private[connector] class GraftWriteBuilder(base: String, pin: Snapshots.Pin,
                                           replaceWhereOpt: Option[String] = None)
    extends WriteBuilder with SupportsOverwrite {
  private var overwrite = false
  private var overwriteCond: Option[Column] = None
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val trivial = filters.isEmpty ||
      filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (trivial) overwrite = true
    else {
      val conds = filters.map(f => GraftRelation.filterColumnExact(f).getOrElse(
        throw new UnsupportedOperationException(
          s"cannot translate overwrite predicate $f exactly; a partial " +
            "translation would replace the wrong rows")))
      overwriteCond = Some(conds.reduce(_ && _))
    }
    this
  }
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, legacyOverwrite: Boolean): Unit = {
        val ow = overwrite || legacyOverwrite
        // Declared write clustering (`write.cluster-by` table property):
        // range-repartition + in-file sort on the declared columns so
        // every commit's footer stats stay selective — filter pushdown
        // and RuntimePrune join skipping then bite on freshly-written
        // data, not only after a compact. A cluster column the frame
        // doesn't carry (post-DROP, stale property) skips clustering for
        // this write: layout is an optimization, never a write gate.
        val cluster = TableProps.clusterBy(base)
          .filter(c => data.columns.contains(c))
        val (toWrite, sortCols) =
          if (cluster.isEmpty) (data, Nil)
          else (data.repartitionByRange(cluster.map(col): _*), cluster)
        // (predicate, enforce-written-rows-match): the writer OPTION is
        // the user-declared backfill scope (Delta semantics, enforced);
        // engine-planned overwrite-by-expression is "delete then insert"
        // (not enforced). Declaring both is ambiguous — refuse.
        val replaceCond: Option[(Column, Boolean)] = replaceWhereOpt match {
          case Some(s) =>
            require(overwriteCond.isEmpty,
              "both a replaceWhere option and an overwrite-by-expression " +
                "predicate given - declare the replace scope once")
            require(ow,
              "the replaceWhere option requires overwrite mode - an " +
                "append would silently ignore the declared scope")
            Some((org.apache.spark.sql.functions.expr(s), true))
          case None => overwriteCond.map(c => (c, false))
        }
        pin match {
          case Snapshots.Pin.Latest =>
            replaceCond match {
              case Some((c, enforce)) =>
                Snapshots.replaceWhere(toWrite.sparkSession, toWrite, base,
                  c, enforce = enforce, sortCols = sortCols)
              case None =>
                Snapshots.commit(toWrite.sparkSession, toWrite, base,
                  mode = if (ow) "overwrite" else "append", sortCols = sortCols)
            }
          case Snapshots.Pin.AtBranch(b) =>
            require(!ow, "overwrite of a branch head is not supported - " +
              "drop the branch and re-create it from the desired state")
            require(replaceCond.isEmpty,
              "replaceWhere against a branch head is not supported")
            Snapshots.commitToBranch(toWrite.sparkSession, toWrite, base, b,
              sortCols = sortCols)
          case other =>
            throw new UnsupportedOperationException(
              s"cannot write to a read-only pin $other (versionAsOf/tag)")
        }
        ()
      }
    }
  }
}

/** Records Catalyst's pushed filters + pruned columns, then builds the
  * V1 scan. Every filter is RETURNED as residual (Spark re-applies it
  * post-scan), so stats pruning and the inner filter are pure
  * optimizations — a filter shape the evaluator can't model costs
  * skipping power, never correctness.
  */
private[connector] class GraftScanBuilder(base: String, pin: Snapshots.Pin,
                                          tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = tableSchema
  private var filters: Array[Filter] = Array.empty
  private var metadataAgg: Option[(StructType, Row)] = None

  override def pushFilters(fs: Array[Filter]): Array[Filter] = { filters = fs; fs }
  override def pushedFilters(): Array[Filter] = filters.filter(FileStats.supportsPruning)
  override def pruneColumns(s: StructType): Unit = required = s

  /** Ungrouped `count(*)` / `min(bigint)` / `max(bigint)` answered from
    * manifest sidecars — ZERO data IO (Iceberg's metadata aggregates).
    * Pushed ONLY when metadata is exact: no predicate survived
    * translation, no row-level delete (DV or equality) is outstanding,
    * every live file carries sidecar stats, and min/max columns are
    * BIGINT (integer parquet stats are never truncated; string stats
    * can be, double stats are NaN-hostile — those fall back). Anything
    * else runs the real scan, so the answer is never approximate.
    */
  private def tryPush(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types.{LongType, StructField}
    if (metadataAgg.isDefined) return true
    if (agg.groupByExpressions.nonEmpty || filters.nonEmpty ||
      agg.aggregateExpressions.isEmpty) return false
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 &&
          tableSchema.fields.exists(f =>
            f.name == r.fieldNames.head && f.dataType == LongType) =>
          Some(r.fieldNames.head)
        case _ => None
      }
    // count(col) works on ANY column type: parquet null counts are exact
    // regardless of value domain, so rows − nulls answers it.
    def anyColOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 &&
          tableSchema.fieldNames.contains(r.fieldNames.head) =>
          Some(r.fieldNames.head)
        case _ => None
      }
    val needsRanges = agg.aggregateExpressions.exists {
      case _: CountStar | _: Count => false
      case _ => true
    }
    lazy val ranges = Snapshots.exactLongRanges(base, pin)
    lazy val count = Snapshots.exactRowCount(base, pin)
    lazy val nullsEx = Snapshots.exactNullCounts(base, pin)
    val fields = agg.aggregateExpressions.toSeq.zipWithIndex.map {
      case (_: CountStar, i) =>
        count.map(n => (StructField(s"agg_$i", LongType, nullable = false),
          n: Any))
      case (c: Count, i) if !c.isDistinct =>
        for {
          cn <- anyColOf(c.column); n <- count; ns <- nullsEx; nulls <- ns.get(cn)
        } yield (StructField(s"agg_$i", LongType, nullable = false),
          (n - nulls): Any)
      case (m: Min, i) =>
        for {
          c <- colOf(m.column); rs <- ranges; r <- rs.get(c)
        } yield (StructField(s"agg_$i", LongType, nullable = true),
          r._1.map(Long.box).orNull: Any)
      case (m: Max, i) =>
        for {
          c <- colOf(m.column); rs <- ranges; r <- rs.get(c)
        } yield (StructField(s"agg_$i", LongType, nullable = true),
          r._2.map(Long.box).orNull: Any)
      case _ => None
    }
    if (fields.exists(_.isEmpty) || (needsRanges && ranges.isEmpty)) false
    else {
      val fs = fields.flatten
      metadataAgg = Some((StructType(fs.map(_._1)), Row(fs.map(_._2): _*)))
      true
    }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    tryPush(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    tryPush(agg)

  override def build(): Scan = metadataAgg match {
    case Some((schema, row)) => new GraftMetaAggScan(base, schema, row)
    case None => new GraftScan(base, pin, required, filters)
  }
}

/** The complete-pushdown metadata-aggregate result: one row, no data
  * file opened.
  */
private[connector] class GraftMetaAggScan(base: String, out: StructType,
                                          row: Row) extends V1Scan {
  override def readSchema(): StructType = out
  override def description(): String = s"GraftMetaAggScan(base=$base, row=$row)"
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = out
      override def buildScan(): RDD[Row] =
        context.sparkContext.parallelize(Seq(row), 1)
    }.asInstanceOf[T]
}

private[connector] class GraftScan(base: String, pin: Snapshots.Pin,
                                   required: StructType, filters: Array[Filter])
    extends V1Scan with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftScan(base=$base, pin=$pin, pruneFilters=${pushable.mkString(",")})"

  private def pushable = filters.filter(FileStats.supportsPruning)

  /** Manifest-derived stats AFTER file pruning, reported to Catalyst —
    * this is what lets a dimension-sized snapshot table auto-broadcast
    * (no hint) while the stat-less default would force every graft join
    * onto sort-merge. Computed once per scan instance: the optimizer may
    * ask repeatedly during join planning, the file list doesn't change.
    */
  private lazy val est: (Option[Long], Option[Long]) =
    Snapshots.scanStats(base, pin, pushable.toSeq)

  /** Per-column approximate distinct counts from the sidecars' merged HLL
    * sketches — reported as DSv2 column statistics, which
    * `DataSourceV2Relation.transformV2Stats` maps into Catalyst
    * attributeStats (matched by `attribute.name == ref.describe()`), so
    * with `spark.sql.cbo.enabled` aggregate/join cardinality estimation
    * sees real NDVs: a GROUP BY over a low-NDV column estimates NDV-many
    * output rows and that side auto-broadcasts with no hint. Columns
    * whose quoted form differs from their name are skipped (describe()
    * would not round-trip the match).
    */
  private lazy val ndv: Map[String, Long] =
    try Snapshots.scanNdv(base, pin, pushable.toSeq)
    catch { case _: Exception => Map.empty }

  /** Exact NULL counts from the sidecars — Catalyst's `hasCountStats`
    * gate (AggregateEstimation) needs nullCount beside distinctCount
    * before any NDV is consulted.
    */
  private lazy val nulls: Map[String, Long] =
    try Snapshots.scanNullCounts(base, pin, pushable.toSeq)
    catch { case _: Exception => Map.empty }

  /** Equi-height histograms from the sidecars' merged signed-log2 bucket
    * counts — the range-selectivity half of the CBO story: with only
    * NDV/min/max, a filter over a skewed column assumes uniformity over
    * [min, max] and can misestimate by orders of magnitude; with the
    * histogram the optimizer integrates the real distribution, and a
    * selective range filter's output becomes small enough to broadcast.
    */
  private lazy val hists: Map[String, (Double, Seq[(Double, Double, Long)])] =
    try Snapshots.scanHistograms(base, pin, pushable.toSeq)
      .flatMap { case (c, counts) =>
        FileStats.equiHeightBins(counts).map(c -> _)
      }
    catch { case _: Exception => Map.empty }

  /** Exact per-column min/max from the footer-stat sidecars, reported
    * ONLY for columns the scan schema types as BIGINT (the catalyst-side
    * ColumnStat holds the attribute's internal type; handing an int
    * attribute a boxed Long would crash estimation, so narrower integer
    * widths stay unreported). Range estimation needs these endpoints
    * engaged before the histogram refines within them.
    */
  private lazy val ranges: Map[String, (Long, Long)] =
    try Snapshots.exactLongRanges(base, pin).getOrElse(Map.empty)
      .collect { case (c, (Some(lo), Some(hi)))
        if required.fields.exists(f => f.name == c &&
          f.dataType == org.apache.spark.sql.types.LongType) => c -> (lo, hi) }
    catch { case _: Exception => Map.empty }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      est._1.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty)
    override def numRows(): java.util.OptionalLong =
      est._2.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty)
    override def columnStats(): java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      ndv.foreach { case (name, n) =>
        val ref = org.apache.spark.sql.connector.expressions.Expressions.column(name)
        val nc = nulls.get(name)
        if (ref.describe() == name && nc.isDefined)
          m.put(ref, new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(n)
            override def nullCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(nc.get)
            override def min(): java.util.Optional[Object] =
              ranges.get(name) match {
                case Some((lo, _)) =>
                  java.util.Optional.of(java.lang.Long.valueOf(lo))
                case None => java.util.Optional.empty()
              }
            override def max(): java.util.Optional[Object] =
              ranges.get(name) match {
                case Some((_, hi)) =>
                  java.util.Optional.of(java.lang.Long.valueOf(hi))
                case None => java.util.Optional.empty()
              }
            override def histogram(): java.util.Optional[
                org.apache.spark.sql.connector.read.colstats.Histogram] =
              hists.get(name) match {
                case None => java.util.Optional.empty()
                case Some((h, bs)) =>
                  java.util.Optional.of(
                    new org.apache.spark.sql.connector.read.colstats.Histogram {
                      override def height(): Double = h
                      override def bins(): Array[
                          org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                        bs.map { case (l, u, d) =>
                          new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                            override def lo(): Double = l
                            override def hi(): Double = u
                            override def ndv(): Long = d
                          }: org.apache.spark.sql.connector.read.colstats.HistogramBin
                        }.toArray
                    })
              }
          })
      }
      m
    }
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftRelation(context, base, pin, required, filters).asInstanceOf[T]
}

private[connector] class GraftRelation(context: SQLContext, base: String,
                                       pin: Snapshots.Pin,
                                       required: StructType,
                                       filters: Array[Filter])
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = context
  override def schema: StructType = required

  override def buildScan(): RDD[Row] = {
    val spark = context.sparkSession
    // File-level pruning from the pushed filters, then the same filters as
    // a Catalyst predicate on the inner scan — that second application is
    // what reaches parquet's row-group stats. Spark ALSO re-applies the
    // residual above the scan, so a translation gap here is only lost
    // skipping.
    // `_row_id` in the pruned schema = the metadata column was referenced
    // (GraftTable.metadataColumns): read with lineage decoration.
    val scan = Snapshots.scanPinned(spark, base, pin, pruneFilters = filters.toSeq,
      withRowIds = required.fieldNames.contains(Snapshots.RowIdCol))
    val cond = filters.flatMap(GraftRelation.filterColumn).reduceOption(_ && _)
    val filtered = cond.map(scan.filter).getOrElse(scan)
    filtered.select(required.fieldNames.map(n => col(GraftRelation.quote(n))).toSeq: _*).rdd
  }
}

private[connector] object GraftRelation {
  def quote(n: String): String = s"`${n.replace("`", "``")}`"

  /** Data-source Filter → Column, for re-applying pushed predicates inside
    * the inner scan. Conjunctions keep their translatable half; OR/NOT
    * must translate exactly or not at all.
    */
  def filterColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(quote(a)) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(quote(a)) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(quote(a)) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(quote(a)) >= lit(v))
    case LessThan(a, v)           => Some(col(quote(a)) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(quote(a)) <= lit(v))
    case In(a, vs)                => Some(col(quote(a)).isin(vs.toSeq: _*))
    case IsNull(a)                => Some(col(quote(a)).isNull)
    case IsNotNull(a)             => Some(col(quote(a)).isNotNull)
    case StringStartsWith(a, p)   => Some(col(quote(a)).startsWith(p))
    case StringEndsWith(a, p)     => Some(col(quote(a)).endsWith(p))
    case StringContains(a, p)     => Some(col(quote(a)).contains(p))
    case And(l, r) =>
      (filterColumn(l).toSeq ++ filterColumn(r).toSeq).reduceOption(_ && _)
    case Or(l, r) =>
      for { x <- filterColumn(l); y <- filterColumn(r) } yield x || y
    case Not(x) => filterColumn(x).map(!_)
    case _ => None
  }

  /** [[filterColumn]] with EXACT semantics: any untranslatable subtree
    * makes the whole translation None (the relaxed form may drop one
    * side of an And — fine for best-effort scan residuals, wrong for a
    * predicate that decides which rows get deleted or replaced).
    */
  def filterColumnExact(f: Filter): Option[Column] = f match {
    case And(l, r) =>
      for { x <- filterColumnExact(l); y <- filterColumnExact(r) } yield x && y
    case Or(l, r) =>
      for { x <- filterColumnExact(l); y <- filterColumnExact(r) } yield x || y
    case Not(x) => filterColumnExact(x).map(!_)
    case leaf => filterColumn(leaf)
  }
}

private[connector] object GraftChangeFeedTable {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTsCol = "_commit_ts"

  /** The feed's schema: the table's columns plus the three CDC columns. */
  def feedSchema(table: StructType): StructType = {
    import org.apache.spark.sql.types.{LongType, StringType}
    var s = table
    s = s.add(ChangeTypeCol, StringType, nullable = false)
    s = s.add(CommitVersionCol, LongType, nullable = false)
    s.add(CommitTsCol, LongType, nullable = false)
  }
}

/** The batch change-feed surface (`readChangeFeed true`): a read-only
  * table whose scan replays [[Snapshots.changeFeed]] over the option
  * window. No filter pushdown — the feed is already proportional to
  * changed data, and Spark applies predicates above the scan; column
  * pruning is honored.
  */
/** Incremental batch read: rows from the append diff (fromV, toV] — the
  * table's own schema, no CDC columns. See incrementalOf.
  */
private[connector] class GraftIncrementalTable(base: String, fromV: Long,
                                               toV: Option[Long],
                                               skipOverwrites: Boolean,
                                               tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft.`$base`.incremental"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = tableSchema
      override def pruneColumns(s: StructType): Unit = required = s
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required
        override def description(): String =
          s"GraftIncrementalScan(base=$base, from=$fromV, to=$toV)"
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val req = required
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = req
            override def buildScan(): RDD[Row] = {
              val spark = context.sparkSession
              val endV = toV.getOrElse(Snapshots.versions(base).max)
              val diff =
                if (skipOverwrites)
                  Snapshots.changesSkippingOverwrites(spark, base, fromV, endV)
                else Snapshots.changes(spark, base, fromV, endV)
              diff.select(req.fieldNames.map(n =>
                col(GraftRelation.quote(n))).toSeq: _*).rdd
            }
          }.asInstanceOf[T]
        }
      }
    }
}

private[connector] class GraftChangeFeedTable(base: String, fromV: Long,
                                              toV: Option[Long],
                                              tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft.`$base`.changes"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = tableSchema
      override def pruneColumns(s: StructType): Unit = required = s
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required
        override def description(): String =
          s"GraftChangeFeedScan(base=$base, from=$fromV, to=$toV)"
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val req = required
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = req
            override def buildScan(): RDD[Row] = {
              val spark = context.sparkSession
              val endV = toV.getOrElse(Snapshots.versions(base).max)
              Snapshots.changeFeed(spark, base, fromV, endV)
                .select(req.fieldNames.map(n =>
                  col(GraftRelation.quote(n))).toSeq: _*).rdd
            }
          }.asInstanceOf[T]
        }
      }
    }
}

/** Snapshot-version offsets: `getOffset` is the table's newest committed
  * version (a manifest listing — metadata-sized), and each batch is
  * [[Snapshots.changes]] between the checkpointed version and the head —
  * the APPEND feed (inserts). DV deletes are metadata-only and don't
  * appear in that mode; `readChangeFeed true` switches the batches to
  * [[Snapshots.changeFeed]] (per-commit insert AND delete rows with
  * `_change_type`/`_commit_version`/`_commit_ts`) for callers that need
  * full CDC. First batch = the whole table as of the head (initial
  * load; in CDC mode, replayed commit by commit from version 0),
  * matching Delta's streaming-source semantics.
  *
  * Contract notes, enforced loudly rather than silently: the stream
  * follows ONE schema (era changes mid-stream fail analysis), and offsets
  * reference manifests — an [[Snapshots.expire]] that drops a version the
  * checkpoint still points at fails the restart instead of skipping data.
  */
private[connector] class GraftStreamSource(spark: SparkSession, base: String,
                                           cdc: Boolean = false,
                                           skipOverwrites: Boolean = false,
                                           maxCommits: Option[Long] = None,
                                           startingVersion: Option[Long] = None)
    extends Source {

  private val tableSchema: StructType =
    Snapshots.pinnedSchema(base, Snapshots.Pin.Latest)
      .getOrElse(Snapshots.scanPinned(spark, base, Snapshots.Pin.Latest).schema)

  override val schema: StructType =
    if (cdc) GraftChangeFeedTable.feedSchema(tableSchema) else tableSchema

  /** Admission control ratchet (`maxCommitsPerTrigger k`): the newest
    * version this instance has offered or delivered. A deep backlog —
    * weekend outage, first attach to a long table — then catches up in
    * ceil(backlog / k) bounded micro-batches instead of one giant batch
    * sized by the outage (Delta's maxFilesPerTrigger / Iceberg's
    * streaming-max-files-per-micro-batch stance, at commit grain, which
    * is what version offsets can bound exactly; per-FILE bounds would
    * need splittable offsets). In CDC mode the initial from-0 replay
    * chunks the same way. Best-effort across restarts, like Delta's: the
    * recovery getBatch re-seeds the ratchet from the checkpoint; absent
    * one, the ratchet re-seeds from the oldest retained version and the
    * engine ignores offers at or behind its committed offset — a few
    * idle polls, never data loss or re-delivery.
    */
  private var lastSeenEnd: Option[Long] = startingVersion

  override def getOffset: Option[OffsetV1] = {
    val vs = Snapshots.versions(base)
    if (vs.isEmpty) None else {
      val head = vs.max
      val offered = maxCommits match {
        case Some(k) =>
          math.min(head, lastSeenEnd.getOrElse(vs.min - 1) + k)
        case None => head
      }
      lastSeenEnd = Some(lastSeenEnd.fold(offered)(math.max(_, offered)))
      Some(Bridge.versionOffset(offered))
    }
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = Bridge.offsetVersion(end)
    // Ratchet from delivered ranges too: on restart the engine replays
    // the checkpointed batch through here before polling getOffset, so
    // admission resumes from the checkpoint, not from the table's tail.
    lastSeenEnd = Some(lastSeenEnd.fold(endV)(math.max(_, endV)))
    val batch =
      if (cdc)
        // CDC mode: the per-commit change feed, deletes included. The
        // first batch replays from startingVersion (default 0 = every
        // commit up to the head), mirroring the batch feed's option.
        Snapshots.changeFeed(spark, base,
          start.map(Bridge.offsetVersion)
            .orElse(startingVersion).getOrElse(0L), endV)
      else start match {
        // startingVersion: no initial snapshot - the first batch is the
        // append diff SINCE that version (a consumer that already holds
        // the history, or only wants post-attach data via 'latest')
        case None if startingVersion.isDefined =>
          val sv = startingVersion.get
          if (skipOverwrites)
            Snapshots.changesSkippingOverwrites(spark, base, sv, endV)
          else Snapshots.changes(spark, base, sv, endV)
        case None    => Snapshots.read(spark, base, Some(endV))
        // skipOverwrites: a compact mid-stream rewrites live rows into
        // new files, which the plain endpoint file-diff would re-deliver;
        // the per-commit diff attributes each file to its commit and
        // drops overwrite/rollback steps, keeping ETL consumers
        // exactly-once across maintenance (opt-in: the default diff is
        // the right answer for consumers that WANT replaced content).
        case Some(s) if skipOverwrites =>
          Snapshots.changesSkippingOverwrites(spark, base, Bridge.offsetVersion(s), endV)
        case Some(s) => Snapshots.changes(spark, base, Bridge.offsetVersion(s), endV)
      }
    Bridge.asStreamingBatch(batch)
  }

  override def stop(): Unit = ()
}

/** Micro-batches as snapshot commits. The batch id rides the commit mode
  * (`append:b7`), so a re-delivered batch — engine crash between sink
  * write and checkpoint advance — is recognized and skipped WHOLE: the
  * walk to the newest batch-tagged commit tolerates interleaved foreign
  * commits (compaction, manual appends), the same discipline as
  * `StreamIngest.commitBatchWithView`. Single-writer per batch-id space,
  * like every Structured Streaming sink.
  *
  * Output modes: Append commits the batch's rows; Complete overwrites the
  * table with the batch (aggregation results WITH history — time travel
  * across refreshes for free); Update upserts by `mergeKeys` — through
  * the DV merge path by default (one runtime-pruned target scan per
  * batch), or with `upsertMode eq` through [[Snapshots.upsertByKeys]]
  * (equality delete: ZERO target data IO per batch — the high-frequency
  * CDC-ingestion choice; reads of the touched neighborhood pay the key
  * anti-join until compaction folds it in).
  */
private[connector] class GraftSink(base: String, outputMode: OutputMode,
                                   mergeKeys: Seq[String],
                                   eqUpsert: Boolean = false) extends Sink {

  private val BatchTag = ".*:b(\\d+)$".r

  override def addBatch(batchId: Long, rawData: DataFrame): Unit = {
    // The engine hands a STREAMING-flagged frame; batch writes (and the
    // merge path's multi-action plan) need the foreachBatch rewrap.
    val data = Bridge.asBatch(rawData)
    val spark = data.sparkSession
    val delivered = Snapshots.versions(base).sorted.reverse.iterator
      .map(v => Snapshots.modeOf(base, v))
      .collectFirst { case BatchTag(id) => id.toLong }
    if (delivered.contains(batchId)) return // re-delivery: already durable
    val tag = s"b$batchId"
    // Declared write clustering applies per micro-batch too (batch-sized
    // shuffle): a streamed-into table keeps selective footer stats
    // without waiting for a compact. The merge path is exempt — its
    // rewrite targets existing files' layouts.
    val cluster = TableProps.clusterBy(base).filter(data.columns.contains)
    val (clustered, sortCols) =
      if (cluster.isEmpty) (data, Nil)
      else (data.repartitionByRange(cluster.map(col): _*), cluster)
    outputMode match {
      case m if m == OutputMode.Append() =>
        Snapshots.commit(spark, clustered, base, mode = s"append:$tag",
          sortCols = sortCols)
      case m if m == OutputMode.Complete() =>
        Snapshots.commit(spark, clustered, base, mode = s"overwrite:$tag",
          sortCols = sortCols)
      case _ =>
        require(mergeKeys.nonEmpty,
          "graft sink in Update mode needs a mergeKeys option " +
            "(comma-separated key columns for the upsert)")
        // Merge requires key-unique sources; within a batch the last
        // occurrence is as good as any absent an event-time column.
        val deduped = data.dropDuplicates(mergeKeys)
        if (Snapshots.versions(base).isEmpty)
          Snapshots.commit(spark, deduped, base, mode = s"append:$tag")
        else if (eqUpsert)
          Snapshots.upsertByKeys(spark, base, deduped, mergeKeys, modeTag = tag)
        else Snapshots.merge(spark, base, deduped, mergeKeys, modeTag = tag)
    }
    ()
  }
}
