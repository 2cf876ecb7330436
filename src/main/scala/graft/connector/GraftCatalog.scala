package graft.connector

import graft.ingest.Snapshots
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, NonEmptyNamespaceException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, StagedTable, StagingTableCatalog, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The snapshot table layer as a Spark **catalog plugin** — the step past
  * path-based `format("graft")`: register once,
  *
  * {{{
  * spark.sql.catalog.graft           = graft.connector.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /data/warehouse
  * }}}
  *
  * and the whole table lifecycle is plain SQL — `CREATE TABLE
  * graft.ns.t (…)`, CTAS, `INSERT INTO/OVERWRITE`, `DELETE FROM` (DV
  * deletes), `ALTER TABLE … ADD/RENAME/DROP COLUMN` (metadata-only
  * field-id evolution), `DROP/SHOW/DESCRIBE`, plus engine-integrated time
  * travel: `SELECT … FROM graft.ns.t VERSION AS OF 3` (or a tag/branch
  * name) and `TIMESTAMP AS OF …`. Iceberg-style metadata tables ride the
  * nested-identifier form: `graft.ns.t.history|files|stats|tags|branches|changes`.
  *
  * Layout: one directory per namespace level under `warehouse`, one
  * directory per table. A table IS its snapshot tree (`_snapshots`
  * present) — existence, schema, and every read/write go through
  * [[Snapshots]], so the catalog holds no state of its own and any
  * metastore-less deployment (the 100 TB object-store case) gets
  * concurrent-writer safety from the commit protocol, not from this
  * class. The reference has no catalog at all (tables are addressed by
  * partition-key path, filesystemStorageAdapter.go:50); this is the
  * "address your blocks from SQL" surface a Spark user expects.
  */
// Declaring SUPPORT_COLUMN_DEFAULT_VALUE makes Spark's analyzer accept
// `DEFAULT <expr>` in CREATE TABLE / ADD COLUMN (embedding
// CURRENT_DEFAULT/EXISTS_DEFAULT into the schema it hands us) and fill
// write defaults into INSERTs that omit the column.
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with ViewCatalog with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  // ----- catalog-scoped SQL functions (`SELECT <cat>.system.fnv64(x)`)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftCatalogFunctions.list(namespace)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftCatalogFunctions.load(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))


  private var catalogName: String = _
  private var warehouse: Path = _

  private def spark: SparkSession = SparkSession.active
  private def fs: FileSystem =
    warehouse.getFileSystem(spark.sessionState.newHadoopConf())

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.warehouse")
    warehouse = new Path(w)
    fs.mkdirs(warehouse)
    ()
  }

  override def name(): String = catalogName

  // ----- identifier <-> directory mapping

  /** Directory-name discipline: a legal segment can't escape the
    * warehouse, collide with snapshot metadata (`_snapshots`, `data`,
    * sidecars start with `_`/`.`), or smuggle path separators.
    */
  private def checkSegment(s: String): String = {
    require(s.nonEmpty && !s.startsWith("_") && !s.startsWith(".") &&
      !s.contains("/") && !s.contains("\\"),
      s"illegal graft identifier segment '$s'")
    s
  }

  private def nsDir(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, s) => new Path(p, checkSegment(s)))

  private def tableDir(ident: Identifier): Path =
    new Path(nsDir(ident.namespace), checkSegment(ident.name))

  /** A table IS a directory with a published snapshot tree. */
  private def isTable(dir: Path): Boolean =
    fs.exists(new Path(dir, "_snapshots"))

  // Properties persist beside the snapshot tree ([[TableProps]]) so the
  // WRITE path sees them too (write.cluster-by drives write clustering).
  private def readProps(dir: Path): Map[String, String] =
    TableProps.read(dir.toString)

  private def writeProps(dir: Path, m: Map[String, String]): Unit =
    TableProps.write(dir.toString, m)

  // ----- tables

  override def tableExists(ident: Identifier): Boolean =
    isTable(tableDir(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!fs.exists(dir) || isTable(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(isTable).map(p => Identifier.of(namespace, p.getName))
  }

  private def loadPinned(ident: Identifier, pin: Snapshots.Pin): Table = {
    val dir = tableDir(ident)
    if (isTable(dir)) {
      val base = dir.toString
      val schema = Snapshots.pinnedSchema(base, pin)
        .getOrElse(Snapshots.scanPinned(spark, base, pin).schema)
      new GraftTable(base, pin, schema,
        displayName = Some((catalogName +: ident.namespace :+ ident.name).mkString(".")),
        props = readProps(dir))
    } else metaTable(ident).getOrElse(throw new NoSuchTableException(ident))
    // NB deliberately NOT special-casing "ident is a view" here: the
    // analyzer probes loadTable BEFORE ResolveGraftViews runs and only a
    // NoSuchTableException lets resolution continue to the view rule.
  }

  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      // Native CHECK constraint DDL (CREATE TABLE (..., CONSTRAINT c
      // CHECK (p)) / ALTER TABLE ADD|DROP CONSTRAINT) lands in the same
      // write.check.* property namespace the r9 enforcement reads, so
      // DDL-declared and property-declared checks are ONE system with
      // one new-data-only enforcement contract. UNIQUE/PRIMARY KEY/
      // FOREIGN KEY refuse loudly: graft would not enforce them, and an
      // informational constraint that LOOKS enforced is a correctness
      // trap (Iceberg takes the same stance).
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  /** Map a connector-API constraint onto the write.check.* property
    * namespace, refusing kinds graft does not enforce.
    */
  private def checkProp(c: org.apache.spark.sql.connector.catalog.constraints.Constraint): (String, String) =
    c match {
      case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(chk.predicateSql != null && chk.predicateSql.trim.nonEmpty,
          s"CHECK constraint ${chk.name} has no SQL predicate")
        (TableProps.CheckPrefix + chk.name) -> chk.predicateSql
      case other =>
        throw new UnsupportedOperationException(
          s"graft enforces CHECK constraints only - ${other.toDDL} would be " +
            "informational-but-unenforced, a correctness trap; drop it or " +
            "express it as a CHECK")
    }

  override def loadTable(ident: Identifier): Table =
    loadPinned(ident, Snapshots.Pin.Latest)

  /** `VERSION AS OF x` — a numeric x naming an EXISTING snapshot version
    * pins it; otherwise x resolves as a tag, then a branch (Iceberg's ref
    * resolution order). The numeric path requires both a clean parse AND
    * version existence before it wins: a tag or branch NAMED '2' must
    * stay reachable when no snapshot 2 exists, and a degenerate digit
    * string ("", 20+ digits) must fall through to the descriptive error,
    * not throw a raw NumberFormatException.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val base = tableDir(ident).toString
    val asVersion = scala.util.Try(version.toLong).toOption
      .filter(v => Snapshots.versions(base).contains(v))
    val pin = asVersion match {
      case Some(v) => Snapshots.Pin.AsOf(v)
      case None if Snapshots.tags(base).contains(version) => Snapshots.Pin.AtTag(version)
      case None if Snapshots.branches(base).contains(version) => Snapshots.Pin.AtBranch(version)
      case None => throw new IllegalArgumentException(
        s"$version is neither a snapshot version, tag nor branch of $ident")
    }
    loadPinned(ident, pin)
  }

  /** `TIMESTAMP AS OF t` — Spark hands micros since epoch; resolve to the
    * newest version committed at or before that wall-clock instant.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val base = tableDir(ident).toString
    if (!isTable(tableDir(ident))) throw new NoSuchTableException(ident)
    loadPinned(ident, Snapshots.Pin.AsOf(Snapshots.versionAt(base, timestamp / 1000L)))
  }

  /** Iceberg-style metadata tables through the NESTED identifier:
    * `graft.ns.t.history` arrives as Identifier(ns=[ns, t],
    * name=history). All are manifest/listing-sized — no data file opened.
    */
  private def metaTable(ident: Identifier): Option[Table] = {
    if (ident.namespace.isEmpty) return None
    val owner = nsDir(ident.namespace) // last namespace element = the table
    if (!isTable(owner)) return None
    val base = owner.toString
    val df: Option[() => DataFrame] = ident.name.toLowerCase match {
      case "history" | "snapshots" => Some(() => Snapshots.history(spark, base))
      case "files" => Some(() => Snapshots.filesTable(spark, base))
      case "stats" => Some(() => Snapshots.statsTable(spark, base))
      case "tags" => Some(() => {
        val s = spark
        import s.implicits._
        Snapshots.tags(base).toSeq.sorted.toDF("tag", "version")
      })
      case "branches" => Some(() => {
        val s = spark
        import s.implicits._
        Snapshots.branches(base).toSeq.sorted.toDF("branch", "head_version")
      })
      // the persisted table properties (write.cluster-by, write.check.*,
      // maintenance bounds) as rows — the introspection a reviewer of a
      // constrained/auto-maintained table reads first
      case "properties" => Some(() => {
        val s = spark
        import s.implicits._
        TableProps.read(base).toSeq.sorted.toDF("key", "value")
      })
      // The full change feed as SQL (`SELECT * FROM cat.ns.t.changes`):
      // every commit replayed with _change_type/_commit_version/
      // _commit_ts. Cost ∝ changed data, not versions × table size;
      // windowed reads use the connector's readChangeFeed options.
      case "changes" => Some(() =>
        Snapshots.changeFeed(spark, base, 0L, Snapshots.versions(base).max))
      case _ => None
    }
    df.map(f => new GraftMetaTable(s"$base#${ident.name}", f))
  }

  override def createTable(ident: Identifier,
                           info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    // The interface default DROPS info.constraints on the floor; route
    // them into the write.check.* namespace (refusing non-CHECK kinds
    // BEFORE the create commits anything).
    val checkProps = info.constraints.map(checkProp).toMap
    // v2ColumnToStructField likewise drops identity specs and generation
    // expressions — re-encode them as the STANDARD StructField metadata
    // keys (identity.start/step/allowExplicitInsert, the generation-
    // expression key), which the schema header persists and the write
    // path (Snapshots.applyColumnGenerators) reads back.
    import org.apache.spark.sql.types.MetadataBuilder
    val byName = info.columns.map(c => c.name -> c).toMap
    val schema = StructType(info.schema().fields.map { f =>
      val c = byName(f.name)
      val idSpec = Option(c.identityColumnSpec)
      val genExpr = Option(c.generationExpression)
      if (idSpec.isEmpty && genExpr.isEmpty) f
      else {
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        idSpec.foreach { s =>
          mb.putLong(org.apache.spark.sql.catalyst.util.IdentityColumn.IDENTITY_INFO_START, s.getStart)
          mb.putLong(org.apache.spark.sql.catalyst.util.IdentityColumn.IDENTITY_INFO_STEP, s.getStep)
          mb.putBoolean(org.apache.spark.sql.catalyst.util.IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
            s.isAllowExplicitInsert)
        }
        genExpr.foreach(e => mb.putString(
          org.apache.spark.sql.catalyst.util.GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY, e))
        f.copy(metadata = mb.build())
      }
    })
    val t = createTable(ident, schema, info.partitions, info.properties)
    if (checkProps.isEmpty) t
    else {
      val dir = tableDir(ident)
      writeProps(dir, readProps(dir) ++ checkProps)
      loadTable(ident)
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    // Transforms translate to write clustering: `PARTITIONED BY
    // (user_id)` records `write.cluster-by=user_id`, and every write
    // range-clusters on it — the graft equivalent of a static partition
    // layout (files own key ranges; manifest stats prune them), without
    // the small-files explosion of one-directory-per-value. MONOTONE
    // transforms (Iceberg's hidden partitioning: days/months/years/hours
    // on a timestamp, truncate on a string/number) cluster by their BASE
    // column: range-clustering on `ts` is strictly finer than on
    // `days(ts)`, so every file owns a tighter raw-column range and
    // footer-stats pruning serves any `ts` predicate directly — the
    // transform declares intent, the engine clusters finer, and no
    // reader-side transform evaluation is ever needed. `bucket(n, c)` is
    // accepted the same way: the pruning work Iceberg's hash-bucketing
    // does (skip partitions on `c = X` point predicates) is served
    // STRICTLY better by range-clustering on `c` itself — an equality
    // lands in one file's key range instead of one of n hash buckets,
    // and range predicates prune too (hash buckets can't). Bucketing's
    // other role, shuffle-free co-located joins, is `BucketTables`' job
    // and orthogonal to the storage layout here. The declared transform
    // list is preserved verbatim under `partition.transforms` so DDL
    // intent survives migration (SHOW TBLPROPERTIES / t.properties).
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    val ns = nsDir(ident.namespace)
    if (ident.namespace.nonEmpty && (!fs.exists(ns) || isTable(ns)))
      throw new NoSuchNamespaceException(ident.namespace)
    val props = partitionProps(partitions, properties)
    // v1 is an EMPTY commit carrying the schema: existence, schema header
    // and field-id assignment all ride the ordinary commit protocol (a
    // concurrent CREATE of the same name loses the v1 rename and fails).
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
    Snapshots.commit(spark, empty, dir.toString, mode = "append:create")
    if (props.nonEmpty) writeProps(dir, props)
    loadTable(ident)
  }

  /** The declared `PARTITIONED BY` transforms + TBLPROPERTIES as the
    * persisted property map (cluster-by translation; see createTable's
    * scaladoc) — shared by the plain and the staged (RTAS) create paths.
    */
  private def partitionProps(partitions: Array[Transform],
                             properties: java.util.Map[String, String]): Map[String, String] = {
    val Monotone = Set("identity", "days", "months", "years", "hours",
      "date", "truncate", "bucket")
    val clusterCols = partitions.map {
      case t if Monotone(t.name.toLowerCase) && t.references.length == 1 &&
        t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head
      case other => throw new UnsupportedOperationException(
        s"graft tables cluster within snapshot commits: PARTITIONED BY " +
          s"$other is not supported - transforms " +
          "(days/months/years/hours/truncate/bucket) and plain column " +
          "names cluster by their single base column")
    }.distinct.toSeq
    val declaredTransforms = partitions.toSeq
      .filter(_.name.toLowerCase != "identity").map(_.describe())
    import scala.jdk.CollectionConverters._
    val declared = properties.asScala.toMap
    require(clusterCols.isEmpty || !declared.contains(TableProps.ClusterBy),
      s"both PARTITIONED BY and ${TableProps.ClusterBy} given - declare " +
        "the clustering once")
    var props = declared
    if (clusterCols.nonEmpty)
      props += (TableProps.ClusterBy -> clusterCols.mkString(","))
    if (declaredTransforms.nonEmpty)
      props += (TableProps.PartitionTransforms -> declaredTransforms.mkString(","))
    // Retention values refuse at DDL time here too — the auto-expire hook
    // warn-and-skips past durable commits, so CREATE TABLE ...
    // TBLPROPERTIES is the author's only loud moment for a malformed
    // value (the same contract SET TBLPROPERTIES enforces in alterTable).
    Snapshots.parseRetentionProps(props)
    props
  }

  // ----- atomic CTAS / RTAS (StagingTableCatalog): data files land as an
  // unpublished batch at write time; ONE manifest publish at
  // commitStagedChanges makes schema + content visible together. REPLACE
  // is an overwrite COMMIT, so the old definition stays time-travelable —
  // atomicity from the commit protocol, no staging directory dance.

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): StagedTable = {
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    val ns = nsDir(ident.namespace)
    if (ident.namespace.nonEmpty && (!fs.exists(ns) || isTable(ns)))
      throw new NoSuchNamespaceException(ident.namespace)
    new GraftStagedTable(ident.toString, dir, schema,
      partitionProps(partitions, properties), create = true,
      tableExisted = false, fs, spark)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String]): StagedTable = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    new GraftStagedTable(ident.toString, dir, schema,
      partitionProps(partitions, properties), create = false,
      tableExisted = true, fs, spark)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String]): StagedTable = {
    val dir = tableDir(ident)
    val exists = isTable(dir)
    if (!exists && viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    val ns = nsDir(ident.namespace)
    if (ident.namespace.nonEmpty && (!fs.exists(ns) || isTable(ns)))
      throw new NoSuchNamespaceException(ident.namespace)
    new GraftStagedTable(ident.toString, dir, schema,
      partitionProps(partitions, properties), create = !exists,
      tableExisted = exists, fs, spark)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val base = dir.toString
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft supports top-level ADD COLUMN only")
        Snapshots.addColumn(base, add.fieldNames.head, add.dataType,
          Option(add.defaultValue).map(_.getSql))
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          "graft supports top-level RENAME COLUMN only")
        Snapshots.renameColumn(base, ren.fieldNames.head, ren.newName)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "graft supports top-level DROP COLUMN only")
        Snapshots.dropColumn(base, del.fieldNames.head)
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames.length == 1,
          "graft supports top-level ALTER COLUMN TYPE only")
        Snapshots.widenColumn(base, upd.fieldNames.head, upd.newDataType)
      case upd: TableChange.UpdateColumnDefaultValue =>
        require(upd.fieldNames.length == 1,
          "graft supports top-level ALTER COLUMN DEFAULT only")
        Snapshots.setColumnDefault(base, upd.fieldNames.head,
          Option(upd.newCurrentDefault).map(_.getSql).filter(_.nonEmpty))
      case set: TableChange.SetProperty =>
        val next = readProps(dir) + (set.property -> set.value)
        // Retention properties are consumed by a post-commit hook that
        // must never throw past a durable commit (it warn-and-skips), so
        // DDL time is the only moment a malformed value can refuse
        // loudly to the user who typed it.
        if (set.property == TableProps.ExpireMaxAgeMs ||
            set.property == TableProps.ExpireMinSnapshots)
          Snapshots.parseRetentionProps(next)
        writeProps(dir, next)
      case rm: TableChange.RemoveProperty =>
        writeProps(dir, readProps(dir) - rm.property)
      case add: TableChange.AddConstraint =>
        val (k, v) = checkProp(add.constraint)
        val existing = readProps(dir)
        require(!existing.contains(k),
          s"constraint ${add.constraint.name} already exists")
        writeProps(dir, existing + (k -> v))
      case drop: TableChange.DropConstraint =>
        val k = TableProps.CheckPrefix + drop.name
        val existing = readProps(dir)
        if (!existing.contains(k) && !drop.ifExists)
          throw new IllegalArgumentException(
            s"no CHECK constraint named ${drop.name} on $ident")
        writeProps(dir, existing - k)
      case other =>
        throw new UnsupportedOperationException(
          s"graft does not support table change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    isTable(dir) && fs.delete(dir, true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = tableDir(from)
    if (!isTable(src)) throw new NoSuchTableException(from)
    val dst = tableDir(to)
    if (isTable(dst)) throw new TableAlreadyExistsException(to)
    if (viewExists(to)) throw new ViewAlreadyExistsException(to)
    val ns = nsDir(to.namespace)
    if (to.namespace.nonEmpty && (!fs.exists(ns) || isTable(ns)))
      throw new NoSuchNamespaceException(to.namespace)
    require(fs.rename(src, dst), s"rename $from -> $to failed")
  }

  // ----- namespaces (directories that are not tables)

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = nsDir(namespace)
    namespace.isEmpty || (fs.exists(dir) && !isTable(dir))
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsDir(namespace)
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith(".") && !isTable(p))
      .map(p => namespace :+ p.getName)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    import scala.jdk.CollectionConverters._
    Map(SupportsNamespaces.PROP_LOCATION -> nsDir(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    // Any existing path refuses — including a TABLE directory, which
    // namespaceExists deliberately reports false for; mkdirs would no-op
    // on it and report a "namespace" that is really a table.
    if (fs.exists(nsDir(namespace)))
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(nsDir(namespace))
    ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  // ----- SQL views (metadata files next to the table directories)

  private def viewFile(ident: Identifier): Path =
    new Path(nsDir(ident.namespace), checkSegment(ident.name) + GraftViews.Suffix)

  override def viewExists(ident: Identifier): Boolean =
    fs.isFile(viewFile(ident))

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val dir = nsDir(ns)
    if (!fs.exists(dir) || isTable(dir)) throw new NoSuchNamespaceException(ns)
    fs.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
      .filter(_.endsWith(GraftViews.Suffix))
      .map(n => Identifier.of(ns, n.stripSuffix(GraftViews.Suffix)))
  }

  override def loadView(ident: Identifier): View = {
    if (!viewExists(ident)) throw new NoSuchViewException(ident)
    GraftViews.read(fs, viewFile(ident),
      (catalogName +: ident.namespace :+ ident.name).mkString("."))
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val ns = nsDir(ident.namespace)
    if (ident.namespace.nonEmpty && (!fs.exists(ns) || isTable(ns)))
      throw new NoSuchNamespaceException(ident.namespace)
    GraftViews.write(fs, viewFile(ident), info, overwrite = false)
    loadView(ident)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident
    if (!viewExists(ident) && !orCreate) throw new NoSuchViewException(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    GraftViews.write(fs, viewFile(ident), info, overwrite = true)
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident)
    import scala.jdk.CollectionConverters._
    val props = changes.foldLeft(v.properties.asScala.toMap) {
      case (m, set: ViewChange.SetProperty) => m + (set.property -> set.value)
      case (m, rm: ViewChange.RemoveProperty) => m - rm.property
      case (m, _) => m
    }
    GraftViews.write(fs, viewFile(ident),
      new ViewInfo(ident, v.query, v.currentCatalog, v.currentNamespace,
        v.schema, v.queryColumnNames, v.columnAliases, v.columnComments,
        props.asJava),
      overwrite = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    viewExists(ident) && fs.delete(viewFile(ident), false)

  override def renameView(from: Identifier, to: Identifier): Unit = {
    if (!viewExists(from)) throw new NoSuchViewException(from)
    if (viewExists(to)) throw new ViewAlreadyExistsException(to)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    require(fs.rename(viewFile(from), viewFile(to)),
      s"rename view $from -> $to failed")
  }

  // ----- stored procedures (`CALL graft.system.<proc>(...)`)

  /** Maintenance ops under the reserved `system` namespace; a table
    * argument is a catalog-relative name ('ns.t'), resolved through the
    * same directory mapping as the identifier path.
    */
  private def procTableDir(name: String): Path = {
    val parts = name.split('.').toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"bad table reference '$name' (expected 'ns.table')")
    new Path(nsDir(parts.init.toArray), checkSegment(parts.last))
  }

  private lazy val procedures = new GraftProcedures(
    name => {
      val dir = procTableDir(name)
      require(isTable(dir), s"$name is not a table of catalog $catalogName")
      dir.toString
    },
    // not-yet-created target (e.g. the view table refresh_mv builds):
    // the namespace must exist, the table need not — a typo'd namespace
    // must error, not silently grow a fresh directory tree
    name => {
      val dir = procTableDir(name)
      val ns = dir.getParent
      require(ns == warehouse || (fs.exists(ns) && !isTable(ns)),
        s"namespace of $name does not exist in catalog $catalogName")
      dir.toString
    })

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val known = ident.namespace.sameElements(Array("system")) &&
      procedures.all.contains(ident.name.toLowerCase)
    if (!known) throw new IllegalArgumentException(
      s"unknown procedure $ident - see ${catalogName}.system: " +
        procedures.all.keys.toSeq.sorted.mkString(", "))
    procedures.all(ident.name.toLowerCase)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      procedures.all.keys.toSeq.sorted
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    require(namespace.nonEmpty, "cannot drop the warehouse root")
    val dir = nsDir(namespace)
    if (!namespaceExists(namespace) || !fs.exists(dir)) return false
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new NonEmptyNamespaceException(namespace)
    fs.delete(dir, true)
  }
}

/** A read-only metadata table (`t.history`, `t.files`, `t.stats`,
  * `t.tags`, `t.branches`, `t.changes`). The backing frame is driver-built from
  * manifest listings, so the "scan" is a local relation — V1Scan keeps it
  * on the same path as the data scan without a bespoke reader.
  */
private[connector] class GraftMetaTable(tableName: String, build: () => DataFrame)
    extends Table with SupportsRead {
  private lazy val df: DataFrame = build()
  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = df.schema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = df.schema
            override def buildScan(): RDD[Row] = df.rdd
          }.asInstanceOf[T]
      }
    }
}

/** A staged CTAS/RTAS target. The write phase lands data as an
  * UNPUBLISHED batch under the table's data dir (no reader can see it —
  * nothing references it); `commitStagedChanges` performs the single
  * atomic manifest publish carrying schema + content + properties
  * together. REPLACE publishes an overwrite commit, so the replaced
  * definition stays fully time-travelable; abort deletes the staged
  * batch (and, for a from-scratch CREATE, the skeleton directory).
  */
private[connector] class GraftStagedTable(
    name0: String, dir: Path, schema0: StructType,
    props: Map[String, String], create: Boolean, tableExisted: Boolean,
    fs: FileSystem, spark: SparkSession)
  extends StagedTable with SupportsWrite {

  @volatile private var staged: Option[Snapshots.StagedWrite] = None

  override def name(): String = name0
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // The staged target is definitionally empty (REPLACE swaps the
      // whole definition at publish) — truncate-before-write is a no-op.
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              // Declared clustering applies to the staged write exactly
              // as to a published table's writes.
              val cluster = props.get(TableProps.ClusterBy).toSeq
                .flatMap(_.split(",")).map(_.trim)
                .filter(c => c.nonEmpty && data.columns.contains(c))
              val toWrite =
                if (cluster.isEmpty) data
                else data.repartitionByRange(
                  cluster.map(org.apache.spark.sql.functions.col): _*)
              staged = Some(Snapshots.stageWrite(
                data.sparkSession, toWrite, dir.toString, cluster))
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    // REPLACE TABLE without AS SELECT stages no write: commit the new
    // (empty) definition, same shape as a plain CREATE's v1.
    val sw = staged.getOrElse(Snapshots.stageWrite(spark,
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema0),
      dir.toString))
    Snapshots.publishStaged(sw, create)
    // REPLACE defines the table anew: properties are replaced wholesale
    // (clearing any the new definition doesn't declare).
    if (props.nonEmpty || tableExisted) TableProps.write(dir.toString, props)
  }

  override def abortStagedChanges(): Unit = {
    staged.foreach(Snapshots.abortStaged)
    if (!tableExisted && !Snapshots.versions(dir.toString).nonEmpty)
      fs.delete(dir, true)
  }
}
