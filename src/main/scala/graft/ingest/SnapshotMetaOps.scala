package graft.ingest

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
import java.nio.charset.StandardCharsets.UTF_8

/** Manifest layout, metadata IO, version listing, manifest parsing,
  * table checks and the data-file batch writer — the substrate every
  * other section builds on.
  *
  * Split from the monolithic Snapshots.scala along its section seams
  * (round 16); mixed into [[Snapshots]], whose scaladoc carries the
  * design overview. `private[ingest]` on members is the trait-split
  * rendering of the old object-private visibility.
  */
trait SnapshotMetaOps { self: Snapshots.type =>


  /** Commit-serialization seam. The default strategy is the lock FILE
    * below ([[withCommitLock]]) — correct wherever
    * `create(overwrite=false)` is exclusive and rename refuses an
    * existing destination. Supported-store matrix for the DEFAULT
    * strategy:
    *
    *  - HDFS, ABFS (`abfss://`), GCS (`gs://`): exclusive create AND
    *    atomic rename-no-overwrite — the full CAS holds.
    *  - local `file://` (incl. tests): exclusive create is check-then-act
    *    in RawLocalFileSystem, but rename-fails-on-existing makes the
    *    manifest's appearance at its versioned name the single-winner
    *    commit point — holds.
    *  - plain S3 (`s3://`, `s3a://`, `s3n://`), OSS: NEITHER primitive is
    *    exclusive — a lost update would be SILENT. Commits to these
    *    schemes therefore fail LOUDLY up front (conf
    *    `spark.graft.commit.nonAtomicSchemes`, default "s3,s3a,s3n,oss")
    *    unless the deployment either (a) plugs an external lock via
    *    `spark.graft.commit.lockStrategy` = FQCN of a [[CommitLock]]
    *    (DynamoDB-style lock table, S3 conditional writes, a catalog
    *    service — Iceberg's answer), or (b) sets
    *    `spark.graft.commit.allowNonAtomicStore=true`, asserting that
    *    writer serialization exists OUTSIDE this library (single-writer
    *    pipelines). With a correct external lock the whole
    *    list→compose→rename sequence is serialized, so rename atomicity
    *    is no longer load-bearing against other lock holders.
    */
  trait CommitLock {
    def withLock[T](base: String)(body: => T): T
  }

  /** ALL metadata IO goes through the Hadoop FileSystem resolved from the
    * base URI's scheme — the same registry seam BlockWriter's data path
    * uses — so the manifest/lock/tag layer runs unchanged on `file://`,
    * the `graftfs://` test scheme, or a real object-store connector
    * (`abfss://`, `s3a://`), mirroring the reference's storage-adapter
    * role (/root/reference/azureStorageAdapter.go:34-147). The conf comes
    * from the active Spark session (connectors and test schemes register
    * there); outside a session the default Hadoop conf still serves
    * `file://`.
    *
    * Atomicity notes per operation, in object-store terms: the commit
    * lock is create-no-overwrite (a true CAS on HDFS/ABFS/GCS; S3 needs
    * its conditional-write mode or an external lock table); the manifest
    * publish is write-temp + rename (atomic on HDFS/ABFS; copy+delete on
    * S3, acceptable because it happens under the lock).
    */
  private[ingest] def hadoopConf =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private[ingest] def fsFor(base: String): FileSystem =
    new Path(base).getFileSystem(hadoopConf) match {
      // Metadata bypasses the client-side checksum wrapper (local FS):
      // KB-scale manifests gain nothing from .crc sidecars, and a manifest
      // written by another tool (legacy trees, external writers) would
      // fail checksum verification against a stale sidecar. HDFS/object
      // stores are not ChecksumFileSystems — unaffected.
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  private[ingest] def snapDir(base: String) = new Path(base, "_snapshots")
  private[ingest] def dataDir(base: String) = new Path(base, "data")
  private[ingest] def manifestFile(base: String, v: Long) =
    new Path(snapDir(base), f"v$v%08d.manifest")

  private[ingest] def listDir(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil else fs.listStatus(dir).toSeq

  private[ingest] def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), UTF_8)
    finally in.close()
  }

  /** Create-new + write + close; the create(overwrite=false) is the CAS
    * primitive (throws when the path exists).
    */
  private[ingest] def writeStringNew(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, false)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  /** Scheme/authority-insensitive canonical form for comparing paths that
    * arrive from different producers (manifest lines, FileSystem listings,
    * `input_file_name()` URIs) — `file:/x`, `file:///x` and `/x` all
    * compare equal as `/x`. Comparison only; never used for IO.
    */
  private[ingest] def uriPath(p: String): String = {
    val u = try new java.net.URI(p) catch { case _: Exception => null }
    if (u == null || u.getPath == null || u.getPath.isEmpty) p else u.getPath
  }

  private[ingest] def versionStatuses(base: String): Seq[FileStatus] =
    listDir(fsFor(base), snapDir(base))
      .filter(_.getPath.getName.matches("v\\d{8}\\.manifest"))

  private[ingest] def versionOf(name: String): Long =
    name.stripPrefix("v").stripSuffix(".manifest").toLong

  /** Committed versions, ascending. Zero-length manifests are in-flight
    * claims (see [[commit]]) and are not listed.
    */
  def versions(base: String): Seq[Long] =
    versionStatuses(base).filter(_.getLen > 0)
      .map(s => versionOf(s.getPath.getName)).sorted

  private[ingest] case class Manifest(version: Long, parent: Long, mode: String,
                              files: Seq[String], dvs: Seq[String],
                              eqs: Seq[String],
                              schema: Option[org.apache.spark.sql.types.StructType],
                              lastColumnId: Option[Long],
                              commitTs: Option[Long])

  /** Manifest lines are base-relative; everything in memory is absolute.
    * Relativize at the WRITE boundary, resolve at the READ boundary, so
    * all internal set logic (carried files, delete/compact diffs, vacuum)
    * compares one consistent form.
    */
  private[ingest] def relativize(base: String, path: String): String = {
    // Compare in uriPath form so a fully-qualified listing entry
    // (`file:/tmp/t/data/...`) still relativizes against a bare base
    // (`/tmp/t`) — and vice versa.
    val b = uriPath(new Path(base).toString)
    val p = uriPath(path)
    if (p.startsWith(b + "/")) p.substring(b.length + 1) else path
  }

  private[ingest] def resolve(base: String, line: String): String =
    // Absolute (legacy manifests, or a foreign-scheme URI) passes through;
    // relative lines resolve against the base — carrying its scheme, which
    // is what makes the tree relocatable ACROSS filesystems too.
    if (line.startsWith("/") || line.contains(":/")) line
    else new Path(base, line).toString

  /** Deletion-vector manifest lines are tagged `dv:`, equality-delete key
    * files `eq:`; every other line is a data file. Old manifests have no
    * tagged lines and parse unchanged.
    */
  private[ingest] def readManifest(base: String, v: Long): Manifest = {
    val lines = readString(fsFor(base), manifestFile(base, v)).split("\n", -1).toSeq
    val header = lines.head.split("\t").map { kv =>
      val Array(k, value) = kv.split("=", 2); k -> value
    }.toMap
    val body = lines.tail.filter(_.nonEmpty)
    val eqLines = body.filter(_.startsWith("eq:"))
    val (dvLines, dataLines) =
      body.filterNot(_.startsWith("eq:")).partition(_.startsWith("dv:"))
    Manifest(header("version").toLong, header("parent").toLong,
      header("mode"), dataLines.map(resolve(base, _)),
      dvLines.map(l => resolve(base, l.stripPrefix("dv:"))),
      eqLines.map(l => resolve(base, l.stripPrefix("eq:"))),
      header.get("schema").map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]),
      header.get("lastColumnId").map(_.toLong),
      header.get("commitTs").map(_.toLong))
  }

  /** The first (header) line of a manifest without materializing the file
    * list — `versionAt` scans every version's header, so at 10⁵-line
    * manifests reading whole files would turn timestamp time travel into
    * an O(versions × manifest-size) read. A '\n' byte can never occur
    * inside a UTF-8 multi-byte sequence, so splitting on the raw byte
    * before decoding is safe for any column names the schema JSON carries.
    */
  private[ingest] def readHeaderLine(fs: FileSystem, p: Path): String = {
    val in = new java.io.BufferedInputStream(fs.open(p), 64 * 1024)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      var c = in.read()
      while (c != -1 && c != '\n') { buf.write(c); c = in.read() }
      new String(buf.toByteArray, UTF_8)
    } finally in.close()
  }

  /** The wall-clock commit instant recorded in a version's manifest
    * header, if present (manifests written before commitTs existed have
    * none).
    */
  private[ingest] def commitTsOf(base: String, v: Long): Option[Long] =
    readHeaderLine(fsFor(base), manifestFile(base, v))
      .split("\t").iterator
      .map(_.split("=", 2))
      .collectFirst { case Array("commitTs", value) => value.toLong }

  /** The highest field id this table has EVER assigned, as of `m` —
    * Iceberg's last-column-id. Recorded in the manifest header from the
    * first id-minting commit onward (so it survives [[expire]] pruning
    * history and DROP COLUMN removing the id from the schema); manifests
    * from before the header derive it from their era schema, which is
    * exact as long as no high-id column was dropped before the header
    * existed.
    */
  private[ingest] def lastColumnIdOf(m: Manifest): Option[Long] =
    m.lastColumnId.orElse(m.schema.map(s => (0L +: s.fields.map(fieldId).toSeq).max))

  /** The id floor for MINTING at `m`: the recorded last-column-id, or —
    * for pre-header tables only — the max id over every SURVIVING
    * manifest's era schema, so a high id dropped before the header
    * existed stays burned as long as any manifest remembers it. Paid
    * once: the first minting commit writes the header and the scan never
    * runs again.
    */
  private[ingest] def mintFloor(base: String, m: Manifest): Long =
    m.lastColumnId.getOrElse {
      versions(base).iterator
        .flatMap(v => readManifest(base, v).schema)
        .flatMap(_.fields.map(fieldId))
        .foldLeft(0L)(_ max _)
    }

  /** Enforce the table's `write.check.*` CHECK constraints
    * ([[graft.connector.TableProps.CheckPrefix]]) on NEW data: a write
    * refuses when any row makes a predicate FALSE (SQL CHECK semantics —
    * NULL passes). Runs over the JUST-WRITTEN batch files, never the
    * input plan: re-executing the plan for the check would let a
    * non-deterministic source (rand(), a re-read of mutating external
    * input) pass the probe yet commit different, violating rows — the
    * checked rows must provably BE the committed rows (Delta enforces
    * invariants during the write for the same reason). Called by every
    * new-data path via [[writeBatch]]'s `checkNewData`; maintenance
    * rewrites (compact) deliberately skip it so a later-added constraint
    * can never brick compaction of pre-constraint data. Cost: one
    * count-limited re-read of the new batch per constraint, zero when no
    * constraint is set.
    */
  private[ingest] def enforceChecks(spark: SparkSession, base: String,
                            files: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val checks = graft.connector.TableProps.checks(base)
    if (checks.isEmpty || files.isEmpty) return
    val df = spark.read.parquet(files: _*)
    for ((name, pred) <- checks) {
      val violating =
        try df.filter(coalesce(expr(pred), lit(true)) === lit(false))
        catch { case e: Exception =>
          throw new IllegalArgumentException(
            s"CHECK constraint '$name' ($pred) cannot be evaluated " +
              s"against the written schema: ${e.getMessage}")
        }
      val sample = violating.limit(3).collect()
      if (sample.nonEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint '$name' violated by the write: rows where " +
            s"NOT ($pred), e.g. ${sample.mkString("; ")}")
    }
  }

  /** Write `df` as Parquet into the fresh dir `dir` — one write job, after
    * whatever shuffle stages `df`'s own plan needs — with `stats`
    * observing every written row ([[WriteStats]]). Field ids
    * ride the df's schema metadata into the parquet footers (default-on
    * in Spark, pinned here because id-tracked tables DEPEND on every data
    * file carrying ids).
    *
    * Table-format physical encoding: timestamps are INT64 micros (the
    * Iceberg spec's choice), never legacy INT96 — INT96 carries no usable
    * footer stats, so it would silently disable both row-group skipping
    * and [[FileStats]] planning-time pruning on time columns. SCOPED to
    * this write (save/restore): leaking it session-wide would change the
    * encoding of every unrelated parquet write on the session. A racing
    * writer that sees the restored value merely writes INT96 — stats
    * absent for its ts columns, pruning conservative, rows correct.
    */
  private[ingest] def writeFiles(df: DataFrame, dir: Path, stats: WriteStats): WriteStats.Result = {
    val conf = df.sparkSession.conf
    conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = conf.getOption(tsKey)
    conf.set(tsKey, "TIMESTAMP_MICROS")
    try org.apache.spark.sql.graft.Bridge.writeParquet(df, dir.toString, stats)
    finally prevTs match {
      case Some(v) => conf.set(tsKey, v)
      case None    => conf.unset(tsKey)
    }
    stats.result
  }

  /** Write `df`'s files under a fresh uncommitted batch dir, with their
    * stats sidecar, in ONE write job: the HLL sketches and log2
    * histogram counts are built per file as the rows are written
    * ([[WriteStats]]), and min/max/null counts come from the footers.
    * Stats collection has no opt-out because it costs no extra pass.
    * `checkNewData = true` (every new-data path) validates the written
    * files against the table's CHECK constraints before returning —
    * a violation deletes the batch and throws, so nothing reaches
    * publish; maintenance rewrites pass false. Each CHECK re-reads the
    * batch (at least one more job per constraint).
    */
  private[ingest] def writeBatch(df: DataFrame, base: String, sortCols: Seq[String],
                         checkNewData: Boolean = false): Seq[String] = {
    val batchId = java.util.UUID.randomUUID().toString.take(8)
    val batchPath = new Path(dataDir(base), s"b_$batchId")
    val clustered =
      if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(col): _*) else df
    val written = writeFiles(clustered, batchPath, new WriteStats(clustered.schema, sketch = true))
    val files = listParquet(df.sparkSession, batchPath)
    if (checkNewData) {
      try enforceChecks(df.sparkSession, base, files)
      catch { case e: Throwable => fsFor(base).delete(batchPath, true); throw e }
    }
    // Commit-time stats → batch-dir sidecar, so filtered reads
    // ([[readWhere]], the `graft` connector) prune files at PLANNING time
    // and the connector reports NDV and histograms to the CBO.
    // Best-effort by design: a failed footer read costs pruning power,
    // never the commit.
    FileStats.writeSidecar(df.sparkSession.sparkContext.hadoopConfiguration,
      batchPath, files, written.files)
    // Row-lineage assignment (when the table opted in): frames carrying a
    // physical `_row_id` (compaction/merge rewrites) ride their bytes;
    // everything else gets a metadata range per file — footer reads plus
    // one KB-scale sidecar, never a data pass. Runs BEFORE publish so a
    // reader of the committed version always resolves ids.
    if (!df.columns.contains(RowIdCol) && rowLineageEnabled(base))
      assignRowIdRanges(base, files)
    files
  }

  /** Stage a deletion vector — `dv`'s (`dv_file`, `dv_pos`) coordinates —
    * under a fresh `dv_` dir; the write job itself reports the data files
    * the vector references. Returns (vector files, referenced
    * rel keys). A vector with no row adds nothing: its dir is removed at
    * once (it is unreferenced, so nothing else ever would, and expire's
    * sweep only reclaims .parquet files, leaving empty dirs to accumulate
    * across repeated no-op deletes) and both results are empty.
    */
  private[ingest] def writeVector(dv: DataFrame, base: String): (Seq[String], Set[String]) = {
    val dvPath = new Path(dataDir(base), s"dv_${java.util.UUID.randomUUID().toString.take(8)}")
    val written = writeFiles(dv, dvPath,
      new WriteStats(dv.schema, sketch = false, distinctOf = Some("dv_file")))
    if (written.rows == 0L) { fsFor(base).delete(dvPath, true); (Nil, Set.empty) }
    else (listParquet(dv.sparkSession, dvPath), written.distinct)
  }
}
