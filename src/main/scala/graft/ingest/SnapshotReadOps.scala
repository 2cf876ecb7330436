package graft.ingest

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
import java.nio.charset.StandardCharsets.UTF_8

/** Pins (version/tag/branch), manifest statistics (ranges, NDV,
  * histograms, null counts), pruned reads, time travel and the
  * change-data-feed family.
  *
  * Split from the monolithic Snapshots.scala along its section seams
  * (round 16); mixed into [[Snapshots]], whose scaladoc carries the
  * design overview. `private[ingest]` on members is the trait-split
  * rendering of the old object-private visibility.
  */
trait SnapshotReadOps { self: Snapshots.type =>


  /** Where a read is pinned: the latest committed version, an explicit
    * version (time travel), a named tag, or a branch head — ONE vocabulary
    * shared by the Scala API and the `graft` DataSource V2 connector's
    * options, so both resolve state through the same code path.
    */
  sealed trait Pin
  object Pin {
    case object Latest extends Pin
    final case class AsOf(v: Long) extends Pin
    final case class AtTag(name: String) extends Pin
    final case class AtBranch(name: String) extends Pin
  }

  private[ingest] def pinnedManifest(base: String, pin: Pin): Manifest = pin match {
    case Pin.Latest =>
      val vs = versions(base)
      require(vs.nonEmpty, s"no committed snapshots under $base")
      readManifest(base, vs.max)
    case Pin.AsOf(v) =>
      val vs = versions(base)
      require(vs.nonEmpty, s"no committed snapshots under $base")
      require(vs.contains(v), s"snapshot $v not found (have ${vs.mkString(",")})")
      readManifest(base, v)
    case Pin.AtTag(n) => pinnedManifest(base, Pin.AsOf(tagVersion(base, n)))
    case Pin.AtBranch(n) =>
      val (files, dvs, eqs) = branchHeadState(base, n)
      val fork = readManifest(base, branchFork(base, n))
      Manifest(0L, 0L, "branch", files, dvs, eqs, fork.schema,
        fork.lastColumnId, fork.commitTs)
  }

  /** The era schema of a pinned state WITHOUT planning a scan — metadata
    * IO only, so schema inference (the connector's hot path) never lists
    * or validates data files. None for legacy (header-less) tables.
    */
  def pinnedSchema(base: String, pin: Pin): Option[StructType] =
    pinnedManifest(base, pin).schema

  /** The DV-aware scan of a pinned state, with OPTIONAL planning-time file
    * pruning: `pruneFilters` (data-source `Filter`s, the connector's
    * currency) are checked against each file's commit-time footer stats
    * ([[FileStats]]) and files that provably contain no matching row never
    * reach Spark's scan — at 100 TB, a selective filter on a sort-
    * clustered column turns a 10⁵-task scan into a handful of tasks at
    * PLANNING time. Pruning is conservative (stat-less files survive) and
    * the caller still applies the full predicate to surviving rows.
    */
  def scanPinned(spark: SparkSession, base: String, pin: Pin = Pin.Latest,
                 pruneFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                 mergeSchema: Boolean = false,
                 withRowIds: Boolean = false): DataFrame =
    scanManifest(spark, base, pinnedManifest(base, pin), pruneFilters, mergeSchema, withRowIds)

  /** [[scanPinned]] of an already-resolved manifest. */
  private[ingest] def scanManifest(spark: SparkSession, base: String, m: Manifest,
                                   pruneFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                                   mergeSchema: Boolean = false,
                                   withRowIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val kept = FileStats.prune(hadoopConf, m.files, pruneFilters, eraIds(m))
    val rowIds = if (withRowIds) Some(lineageFirsts(base)) else None
    // All files pruned: an empty result with the right schema — plan over
    // the full list behind a false literal (the optimizer folds it to an
    // empty LocalRelation; no task ever launches).
    if (kept.isEmpty && m.files.nonEmpty)
      scanWithDvs(spark, m, keepCoords = false, mergeSchema = mergeSchema,
        rowIds = rowIds)
        .filter(lit(false))
    else
      scanWithDvs(spark, m.copy(files = kept), keepCoords = false,
        mergeSchema = mergeSchema, rowIds = rowIds)
  }

  /** Planning-time size/row estimate of a pinned scan AFTER stats
    * pruning — what the connector reports to Catalyst so join strategy
    * sees real numbers instead of the "unknown, assume huge" default: a
    * dimension-sized snapshot table then auto-broadcasts with no hint,
    * and a selective pruned scan stops looking like a full table to the
    * optimizer. Driver cost is one `getFileStatus` + one sidecar load per
    * file/batch — the same metadata class as the manifest listing itself.
    * Row counts are pre-DV (a merge-on-read delete leaves them slightly
    * high — an ESTIMATE, conservative in the safe direction); None when
    * any surviving file predates stats sidecars.
    */
  def scanStats(base: String, pin: Pin = Pin.Latest,
                pruneFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil): (Option[Long], Option[Long]) = {
    val m = pinnedManifest(base, pin)
    val kept = FileStats.prune(hadoopConf, m.files, pruneFilters, eraIds(m))
    val fs = fsFor(base)
    // A failed status call (concurrent expire, transient FS error) means
    // UNKNOWN, never 0 — an undercounted size would let join selection
    // broadcast a huge table. Unknown is exactly the pre-stats behavior.
    val sizes = kept.map { f =>
      try Some(fs.getFileStatus(new Path(f)).getLen)
      catch { case _: Exception => None }
    }
    val bytes = if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None
    val sidecars = kept.groupBy(f => new Path(f).getParent).keys
      .map(d => d -> FileStats.readSidecar(hadoopConf, d).getOrElse(Map.empty))
      .toMap
    val counts = kept.map { f =>
      val p = new Path(f)
      sidecars(p.getParent).get(p.getName).map(_.rows)
    }
    (bytes, if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None)
  }

  /** Backfill/refresh stats sidecars (min/max/null-count, the NDV
    * sketches and the histogram counts) for the live file set's batch
    * dirs — the ANALYZE-equivalent for data no graft write job produced:
    * legacy trees, batches written before sketches existed, and (opt-in)
    * adopted foreign directories. A dir costs one pass over its files
    * ([[FileStats.sketchFiles]]: the per-file accumulators a write job
    * uses, fed by a read). A dir rewrites only when some live file lacks
    * a sidecar entry or its NDV sketch, so re-running is cheap; managed
    * dirs cover every parquet they hold (other versions' files share the
    * sidecar),
    * foreign dirs (`includeForeign = true` — it writes a hidden sidecar
    * file into the producer's directory, which strict adopt-only
    * deployments may not want) cover only the manifest's files. Returns
    * the number of dirs refreshed. Metadata-free operation: no manifest
    * changes, readers pick the new sidecars up immediately and a torn
    * sidecar read degrades to no-pruning.
    */
  def collectStats(spark: SparkSession, base: String,
                   includeForeign: Boolean = false): Long = {
    val m = pinnedManifest(base, Pin.Latest)
    val conf = hadoopConf
    val dataRoot = uriPath(dataDir(base).toString) + "/"
    var refreshed = 0L
    for ((dir, files) <- m.files.groupBy(f => new Path(f).getParent)) {
      val managed = (uriPath(dir.toString) + "/").startsWith(dataRoot)
      if (managed || includeForeign) {
        val existing = FileStats.readSidecar(conf, dir).getOrElse(Map.empty)
        val needs = files.exists { f =>
          existing.get(new Path(f).getName).forall(_.ndv.isEmpty)
        }
        if (needs) {
          val covered =
            if (managed)
              listDir(dir.getFileSystem(conf), dir)
                .filter(_.getPath.getName.endsWith(".parquet"))
                .map(_.getPath.toString).sorted
            else files.sorted
          FileStats.writeSidecar(conf, dir, covered, FileStats.sketchFiles(spark, covered))
          refreshed += 1
        }
      }
    }
    refreshed
  }

  /** Approximate distinct counts per column over the (stats-pruned) live
    * file set, merged from the sidecars' per-file HLL sketches —
    * manifest-read cost, no data file opened. A column reports only when
    * EVERY surviving file carries its sketch: a partial union would
    * UNDERcount, and an undercounted NDV makes CBO over-broadcast (the
    * unsafe direction); absence degrades to the pre-NDV "unknown".
    * Rows hidden by DVs/equality deletes still count (an overcount —
    * safe for cardinality estimation, same stance as Iceberg manifests).
    */
  def scanNdv(base: String, pin: Pin = Pin.Latest,
              pruneFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil): Map[String, Long] = {
    val m = pinnedManifest(base, pin)
    val kept = FileStats.prune(hadoopConf, m.files, pruneFilters, eraIds(m))
    if (kept.isEmpty) return Map.empty
    val sidecars = kept.groupBy(f => new Path(f).getParent).keys
      .map(d => d -> FileStats.readSidecar(hadoopConf, d).getOrElse(Map.empty))
      .toMap
    val perFile = kept.map { f =>
      val p = new Path(f)
      sidecars(p.getParent).get(p.getName).map(_.ndv).getOrElse(Map.empty)
    }
    val common = perFile.map(_.keySet).reduce(_ intersect _)
    common.toSeq.map { c =>
      c -> FileStats.mergeNdv(perFile.map(_(c)))
    }.toMap
  }

  /** Merged per-column signed-log2 histogram counts over the
    * (stats-pruned) live file set. The buckets' FIXED boundaries make the
    * merge a plain per-bucket sum — manifest/sidecar-read cost only, no
    * data IO. A column reports only when EVERY surviving file carries
    * counts (a partial histogram would misstate the distribution);
    * [[FileStats.equiHeightBins]] turns the result into the equi-height
    * form Catalyst's filter estimation consumes.
    */
  def scanHistograms(base: String, pin: Pin = Pin.Latest,
                     pruneFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil): Map[String, Map[Int, Long]] = {
    val m = pinnedManifest(base, pin)
    val kept = FileStats.prune(hadoopConf, m.files, pruneFilters, eraIds(m))
    if (kept.isEmpty) return Map.empty
    val sidecars = kept.groupBy(f => new Path(f).getParent).keys
      .map(d => d -> FileStats.readSidecar(hadoopConf, d).getOrElse(Map.empty))
      .toMap
    // Zero-row files (a CREATE's empty schema commit) legitimately carry
    // no counts and must not veto the whole table's histogram.
    val perFile = kept.flatMap { f =>
      val p = new Path(f)
      sidecars(p.getParent).get(p.getName) match {
        case Some(fs) if fs.rows == 0 => None
        case Some(fs)                 => Some(fs.hist)
        case None                     => Some(Map.empty[String, Map[Int, Long]])
      }
    }
    if (perFile.isEmpty) return Map.empty
    val common = perFile.map(_.keySet).reduce(_ intersect _)
    common.toSeq.map { c =>
      c -> perFile.flatMap(_(c).toSeq)
        .groupBy(_._1).map { case (b, cs) => b -> cs.map(_._2).sum }
    }.toMap
  }

  /** Exact per-column NULL counts over the (stats-pruned) live file set,
    * from the min/max sidecar lines — a column reports only when every
    * surviving file carries it. Catalyst's `hasCountStats` gate needs
    * nullCount BESIDE distinctCount before aggregate estimation engages,
    * so [[scanNdv]]'s sketches are only half the CBO story.
    */
  def scanNullCounts(base: String, pin: Pin = Pin.Latest,
                     pruneFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil): Map[String, Long] = {
    val m = pinnedManifest(base, pin)
    val kept = FileStats.prune(hadoopConf, m.files, pruneFilters, eraIds(m))
    if (kept.isEmpty) return Map.empty
    val sidecars = kept.groupBy(f => new Path(f).getParent).keys
      .map(d => d -> FileStats.readSidecar(hadoopConf, d).getOrElse(Map.empty))
      .toMap
    val perFile = kept.map { f =>
      val p = new Path(f)
      sidecars(p.getParent).get(p.getName).map(_.cols).getOrElse(Map.empty)
    }
    val common = perFile.map(_.keySet).reduce(_ intersect _)
    common.toSeq.map(c => c -> perFile.map(_(c).nulls).sum).toMap
  }

  /** The EXACT row count of a pinned state from metadata alone, or None
    * when metadata can't answer exactly: any outstanding deletion vector
    * or equality delete hides rows the sidecars still count, and any
    * live file without a sidecar row count (pre-stats era) leaves a gap.
    * When Some, the value equals `read(...).count()` without opening a
    * single data file — what lets `SELECT count(*)` on a 100 TB table
    * finish in manifest-read time (the connector's aggregate pushdown
    * rides this).
    */
  def exactRowCount(base: String, pin: Pin = Pin.Latest): Option[Long] = {
    val m = pinnedManifest(base, pin)
    if (m.dvs.nonEmpty || m.eqs.nonEmpty) return None
    val conf = hadoopConf
    val sidecars = m.files.groupBy(f => new Path(f).getParent).keys
      .map(d => d -> FileStats.readSidecar(conf, d).getOrElse(Map.empty))
      .toMap
    val counts = m.files.map { f =>
      val p = new Path(f)
      sidecars(p.getParent).get(p.getName).map(_.rows)
    }
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** Exact per-column NULL counts from metadata alone, under the
    * [[exactRowCount]] preconditions (no row-level delete outstanding,
    * complete sidecar coverage): Some(map) of column → total NULLs for
    * every column EVERY live file carries stats for (all domains —
    * parquet null counts are exact regardless of value type). This is
    * what answers `count(col)` = rows − nulls with zero data IO.
    */
  def exactNullCounts(base: String, pin: Pin = Pin.Latest): Option[Map[String, Long]] = {
    val m = pinnedManifest(base, pin)
    if (m.dvs.nonEmpty || m.eqs.nonEmpty) return None
    val conf = hadoopConf
    val sidecars = m.files.groupBy(f => new Path(f).getParent).keys
      .map(d => d -> FileStats.readSidecar(conf, d).getOrElse(Map.empty))
      .toMap
    val stats = m.files.map { f =>
      val p = new Path(f)
      sidecars(p.getParent).get(p.getName)
    }
    if (stats.exists(_.isEmpty)) return None
    val fs = stats.flatten
    if (fs.isEmpty) return Some(Map.empty)
    // Zero-row files carry no per-column lines; they contribute zero
    // NULLs to every column and must not veto the intersection.
    val bearing = fs.filter(_.rows > 0)
    if (bearing.isEmpty) return Some(Map.empty)
    val ids = eraIds(m)
    val common = bearing.map(_.cols.keySet).reduce(_ intersect _)
      .filter(c => bearing.forall(f => idCompatible(f.cols(c), ids.get(c))))
    Some(common.toSeq.map(c => c -> bearing.map(_.cols(c).nulls).sum).toMap)
  }

  /** A name-keyed stat may serve the current era only when its recorded
    * field id matches (or either side predates ids — legacy files and
    * pre-round-10 sidecars stay usable). A mismatch means the name was
    * reused across rename eras for a different physical column.
    */
  private[ingest] def idCompatible(c: FileStats.ColStat, expected: Option[Long]): Boolean =
    (c.id, expected) match {
      case (Some(x), Some(e)) => x == e
      case _                  => true
    }

  /** Exact per-column BIGINT min/max from metadata alone, over a pinned
    * state whose [[exactRowCount]] preconditions hold (no row-level
    * delete outstanding, complete sidecar coverage): Some(map) of
    * column → (min, max) for every `long`-domain column EVERY live file
    * carries stats for; a column's pair is (None, None) when all values
    * are NULL. Parquet keeps integer footer stats exact (no truncation —
    * unlike binary/string stats), which is what makes MIN/MAX answerable
    * without opening a file; other domains are deliberately absent
    * (string stats may be truncated, double stats are NaN-hostile).
    */
  def exactLongRanges(base: String, pin: Pin = Pin.Latest): Option[Map[String, (Option[Long], Option[Long])]] = {
    val m = pinnedManifest(base, pin)
    if (m.dvs.nonEmpty || m.eqs.nonEmpty) return None
    val conf = hadoopConf
    val sidecars = m.files.groupBy(f => new Path(f).getParent).keys
      .map(d => d -> FileStats.readSidecar(conf, d).getOrElse(Map.empty))
      .toMap
    val stats = m.files.map { f =>
      val p = new Path(f)
      sidecars(p.getParent).get(p.getName)
    }
    if (stats.exists(_.isEmpty)) return None
    val fs = stats.flatten
    if (fs.isEmpty) return Some(Map.empty)
    val ids = eraIds(m)
    val common = fs.map(_.cols.keySet).reduce(_ intersect _)
      .filter(c => fs.forall(f => idCompatible(f.cols(c), ids.get(c))))
    Some(common.toSeq.flatMap { c =>
      val cs = fs.map(_.cols(c))
      if (cs.exists(_.t != "long")) None
      else {
        val mins = cs.flatMap(_.min).map(_.toLong)
        val maxs = cs.flatMap(_.max).map(_.toLong)
        Some(c -> (mins.minOption, maxs.maxOption))
      }
    }.toMap)
  }

  /** [[read]] with a pushed-down predicate: `cond`'s conjuncts translate
    * to data-source filters (the same translation Spark's own scan
    * planning uses), prune files through the stats sidecars, and the FULL
    * `cond` still filters surviving rows — so this is exactly
    * `read(...).filter(cond)` with planning-time file skipping on top.
    */
  def readWhere(spark: SparkSession, base: String,
                cond: org.apache.spark.sql.Column,
                asOf: Option[Long] = None): DataFrame = {
    // One manifest read serves both the schema and the scan.
    val m = pinnedManifest(base, asOf.map(Pin.AsOf).getOrElse(Pin.Latest))
    // Translation needs the table schema only (an analyzer probe over an
    // empty frame — no file IO, so pruning can drop files the plan never
    // has to see). Legacy header-less tables infer from their footers.
    val schema = m.schema.getOrElse(scanManifest(spark, base, m).schema)
    val filters = org.apache.spark.sql.graft.Bridge.pushableFilters(spark, schema, cond)
    scanManifest(spark, base, m, filters).filter(cond)
  }

  /** Read the table at `asOf` (default: latest committed version).
    * `mergeSchema = true` unions the footers of every live file, so a
    * table that gained columns across appends reads with the full schema
    * (old rows NULL in the new columns) — additive evolution, the same
    * contract as `RangeQuery.queryEvolved`. Off by default: footer-union
    * planning costs one footer read per file and the common case is a
    * stable schema.
    */
  def read(spark: SparkSession, base: String, asOf: Option[Long] = None,
           mergeSchema: Boolean = false): DataFrame =
    scanPinned(spark, base, asOf.map(Pin.AsOf).getOrElse(Pin.Latest),
      mergeSchema = mergeSchema)

  /** Incremental read: rows in `toV`'s file set but not `fromV`'s — the
    * appended data between two snapshots, consumed as a file-list diff
    * (no data-side anti join; CDC for the append-only path). Deletion-
    * vector deletes are metadata-only and deliberately do NOT appear here;
    * diff the versions' dv lines for a row-level delete feed.
    */
  def changes(spark: SparkSession, base: String, fromV: Long, toV: Long,
              withRowIds: Boolean = false): DataFrame = {
    val before = readManifest(base, fromV).files.toSet
    val added = readManifest(base, toV).files.filterNot(before)
    // A no-file delta (empty-DataFrame commit, or fromV == toV) must be an
    // empty result with the right schema, not a zero-path read error.
    if (added.isEmpty)
      scanPinned(spark, base, Pin.AsOf(toV), withRowIds = withRowIds)
        .filter(org.apache.spark.sql.functions.lit(false))
    // Added files read under toV's era schema (they were written in it);
    // an id-tracked delta therefore surfaces current names.
    else {
      val sch = readManifest(base, toV).schema
      if (!withRowIds) readWithSchema(spark, sch, added)
      else decorateRowIds(
        readWithSchema(spark, sch.map(withRowIdField), added),
        lineageFirsts(base))
    }
  }

  /** [[changes]] restricted to files added by APPENDING commits: each
    * step's file diff is attributed to its commit, and steps whose base
    * mode is `overwrite` (compaction / replacement), `rollback` or
    * `fastforward` contribute nothing — so a mid-stream compact does not
    * re-deliver the rows it physically rewrote. This is the
    * `skipOverwrites` contract of [[graft.connector.GraftDataSource]]'s
    * stream source (Iceberg's incremental append scan takes the same
    * stance). Files appended then compacted away INSIDE the window still
    * deliver from their original batch dirs — retention (`expire` age)
    * must therefore cover consumer lag, the standard incremental-read
    * contract.
    */
  def changesSkippingOverwrites(spark: SparkSession, base: String,
                                fromV: Long, toV: Long): DataFrame = {
    val window = versions(base).filter(v => v > fromV && v <= toV).sorted
    val skip = Set("overwrite", "rollback", "fastforward", "replace-table")
    var prev =
      if (fromV == 0) Set.empty[String] else readManifest(base, fromV).files.toSet
    val added = Seq.newBuilder[String]
    for (v <- window) {
      val m = readManifest(base, v)
      if (!skip(modeOf(base, v).takeWhile(_ != ':')))
        added ++= m.files.filterNot(prev)
      prev = m.files.toSet
    }
    val files = added.result()
    if (files.isEmpty)
      read(spark, base, Some(toV)).filter(org.apache.spark.sql.functions.lit(false))
    else readWithSchema(spark, readManifest(base, toV).schema, files)
  }

  /** The complement of [[changes]]: rows HIDDEN between two versions by
    * deletion vectors added in the window — the subtractive half of a
    * row-level change feed (changes = inserts, removedRows = deletes;
    * a merge's updates appear in both, new value there, old value here).
    * Cost is proportional to the DV-dirty file set, never the table:
    * only files the new vectors reference are read, inner-joined against
    * the (rows-deleted-sized) vector coordinates.
    */
  def removedRows(spark: SparkSession, base: String, fromV: Long, toV: Long,
                  withRowIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, substring_index}
    val mFrom = readManifest(base, fromV)
    val mTo = readManifest(base, toV)
    val newDvs = mTo.dvs.filterNot(mFrom.dvs.toSet)
    val newEqPaths = mTo.eqs.filterNot(mFrom.eqs.toSet).toSet
    val toEqBatches = loadEqBatches(mTo)
    val newEqBatches = toEqBatches.filter(_.keyFiles.exists(newEqPaths))
    val oldEqBatches = toEqBatches.filterNot(_.keyFiles.exists(newEqPaths))
    if (newDvs.isEmpty && newEqBatches.isEmpty)
      return scanPinned(spark, base, Pin.AsOf(toV), withRowIds = withRowIds)
        .filter(lit(false))
    // Lineage decoration happens at the scan root (before the coordinate
    // joins), so the delete half of a row-id feed names WHICH row died.
    def readF(sch: Option[StructType], files: Seq[String]) =
      if (!withRowIds) readWithSchema(spark, sch, files)
      else decorateRowIds(
        readWithSchema(spark, sch.map(withRowIdField), files),
        lineageFirsts(base))
    def coords(df: DataFrame) = df
      .withColumn(DvFileCol, substring_index(col("_metadata.file_path"), "/", -3))
      .withColumn(DvPosCol, col("_metadata.row_index"))
    val liveRel = mTo.files.map(relKey).toSet
    // Equality anti/semi join against a batch's key set (file membership
    // as an InSet residual, same shape as the read path) — `semi=false`
    // subtracts matched rows, `semi=true` keeps only them.
    def eqJoin(df: DataFrame, batches: Seq[EqBatch], semi: Boolean): DataFrame =
      batches.filter(_.refs.exists(liveRel)).foldLeft(df) { (d, b) =>
        val keys = readEqKeys(spark, b)
        val cond = b.keyCols.map(c => d(c) === keys(s"_graft_eq_$c"))
          .reduce(_ && _) &&
          d(DvFileCol).isInCollection(b.refs.filter(liveRel))
        d.join(keys, cond, if (semi) "left_semi" else "left_anti")
      }
    // Semi over the UNION of new-eq batches needs one pass per batch with
    // accumulation, not a fold of semis (a fold would intersect). Collect
    // each batch's hits and de-duplicate by coordinate.
    def eqHits(df: DataFrame): Option[DataFrame] = {
      val hits = newEqBatches.filter(_.refs.exists(liveRel)).map(b =>
        eqJoin(df, Seq(b), semi = true))
      if (hits.isEmpty) None
      else Some(hits.reduce(_.unionByName(_)).dropDuplicates(DvFileCol, DvPosCol))
    }
    // The referenced files are live at toV (merge/delete carry all parent
    // files); read them under toV's schema so a post-rename consumer sees
    // current names in BOTH halves of the feed.
    val dvHalf: Option[DataFrame] =
      if (newDvs.isEmpty) None
      else {
        val dv = readVectors(spark, newDvs)
        val dirtyRel = referenced(newDvs, Nil)
        val dirty = mTo.files.filter(f => dirtyRel(relKey(f)))
        // DV WRITERS scan with all deletes applied, so their vectors
        // never reference rows already hidden at their commit — but
        // [[convertEqToDv]]'s vector references EXACTLY the rows fromV's
        // equality deletes were hiding. Subtract fromV's eq state so a
        // window spanning a conversion reports nothing for it (the rows
        // were not visible at fromV).
        val raw = coords(readF(mTo.schema, dirty))
          .join(dv, Seq(DvFileCol, DvPosCol), "inner")
        Some(eqJoin(raw, loadEqBatches(mFrom), semi = false))
      }
    // Equality half: rows hidden by the window's new eq batches that were
    // VISIBLE at fromV — eq deletes are written blind (no target scan), so
    // their keys may hit rows already DV- or eq-hidden; subtract the full
    // toV DV state (covers old and new vectors — a row can't be removed
    // here if a DV also claims it: the dv half owns it) and fromV's eq
    // state before keeping the new-eq matches.
    val eqHalf: Option[DataFrame] =
      if (newEqBatches.isEmpty) None
      else {
        val eqDirtyRel = newEqBatches.flatMap(_.refs).filter(liveRel).toSet
        val dirty = mTo.files.filter(f => eqDirtyRel(relKey(f)))
        if (dirty.isEmpty) None
        else {
          val scan0 = coords(readF(mTo.schema, dirty))
          val noDv =
            if (mTo.dvs.isEmpty) scan0
            else scan0.join(readVectors(spark, mTo.dvs),
              Seq(DvFileCol, DvPosCol), "left_anti")
          val visibleAtFrom = eqJoin(noDv, oldEqBatches, semi = false)
          eqHits(visibleAtFrom)
        }
      }
    val parts = Seq(dvHalf, eqHalf).flatten
    if (parts.isEmpty)
      scanPinned(spark, base, Pin.AsOf(toV), withRowIds = withRowIds)
        .filter(lit(false))
    else parts.reduce(_.unionByName(_)).drop(DvFileCol, DvPosCol)
  }

  /** Change data feed (Delta's CDF / Iceberg's changelog, re-expressed):
    * every row-level change in `(fromV, toV]`, one commit at a time, as
    * the table's columns plus `_change_type` ('insert' | 'delete'),
    * `_commit_version` and `_commit_ts`. A merge's update appears as a
    * delete of the old row and an insert of the new one (the storage
    * truth — consumers needing update pairing join the halves on key).
    * `fromV = 0` starts before the first commit, so v1's rows feed as
    * inserts.
    *
    * Cost is proportional to CHANGED data, never the table: the insert
    * half of each step is a manifest file-diff ([[changes]]) and the
    * delete half reads only delete-referenced files ([[removedRows]]).
    * A row inserted and deleted within the window appears twice (once per
    * commit) — the feed is a log, not a net diff, so downstream
    * accumulators (incremental MVs) stay exact.
    *
    * Commit modes and the feed:
    *  - `append` / `merge` / `merge-eq` / `delete-dv` / `delete-eq` /
    *    `alter:*` feed exactly;
    *  - `overwrite` (compaction / full replacement) commits are SKIPPED:
    *    a compact is a physical rewrite with no logical change (skipping
    *    is exact), and a full replacement's row-level feed would be the
    *    whole table, which callers should read directly (Iceberg's
    *    incremental read takes the same stance);
    *  - `rollback` / `fastforward` commits REFUSE loudly: they rewrite
    *    table state wholesale with no incremental attribution, and
    *    skipping them would silently diverge feed consumers (mirrors);
    *    re-seed downstream from a full read, then resume the feed;
    *  - copy-on-write `delete` commits REFUSE loudly: the file diff
    *    cannot attribute their rewritten survivors, so a CDC-consumed
    *    table should delete via [[deleteWhereDV]] / [[deleteByKeys]]
    *    (merge-on-read) instead.
    */
  /** `withRowIds = true` (lineage tables only) adds the durable `_row_id`
    * to every feed row: a merge's update pairs by ID instead of by key
    * (the delete half carries the id the insert half keeps), the
    * mechanical join downstream CDC consumers actually want. */
  def changeFeed(spark: SparkSession, base: String, fromV: Long,
                 toV: Long, withRowIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(!withRowIds || rowLineageEnabled(base),
      s"changeFeed(withRowIds) requires row lineage on $base - call " +
        "enableRowLineage first")
    val vs = versions(base)
    require(fromV == 0 || vs.contains(fromV),
      s"unknown feed start version $fromV")
    require(vs.contains(toV), s"unknown feed end version $toV")
    require(fromV < toV, s"empty feed window ($fromV, $toV]")
    val window = vs.filter(v => v > fromV && v <= toV).sorted
    def stamp(df: DataFrame, tpe: String, v: Long): DataFrame = {
      // The three feed metadata columns are appended to each step's era
      // schema; a table column with the same name would be silently
      // REPLACED by withColumn — refuse feed construction instead of
      // emitting a feed whose "_change_type" is not what the consumer
      // thinks it is.
      val clash = df.columns.toSet
        .intersect(Set("_change_type", "_commit_version", "_commit_ts"))
      require(clash.isEmpty,
        s"table schema already contains feed metadata column(s) " +
          s"${clash.mkString(", ")} - rename them (ALTER TABLE ... RENAME " +
          "COLUMN) before consuming the change feed")
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_ts", lit(commitTsOf(base, v).getOrElse(0L)))
    }
    val steps = window.foldLeft((fromV, Seq.empty[DataFrame])) {
      case ((prev, acc), v) =>
        val mode = modeOf(base, v).takeWhile(_ != ':')
        mode match {
          case "delete" =>
            throw new IllegalStateException(
              s"v$v is a copy-on-write delete - its rewritten files cannot " +
                "be attributed row-level; CDC-consumed tables should delete " +
                "via deleteWhereDV/deleteByKeys (merge-on-read)")
          case "rollback" | "fastforward" | "replace-table" =>
            // A rollback/fast-forward rewrites table state WHOLESALE:
            // rows it restores or removes have no incremental
            // attribution, so silently skipping it (pre-round-9
            // behavior) made replication mirrors diverge without any
            // error. Refuse loudly, like the CoW-delete case — a
            // consumer that rolled back upstream must re-seed from a
            // full read (Iceberg's incremental read takes the same
            // stance on replace operations).
            throw new IllegalStateException(
              s"v$v is a $mode commit - its state change has no row-level " +
                "attribution and skipping it would silently diverge feed " +
                "consumers; re-seed downstream from a full read at or " +
                s"after v$v, then resume the feed from there")
          case "overwrite" | "eq-convert" =>
            // physical rewrite: no row-level feed (see scaladoc);
            // eq-convert is a logical no-op (its vector re-hides rows
            // equality deletes already hid). The step still advances the
            // diff base.
            (v, acc)
          case _ =>
            val ins =
              if (prev == 0) stamp(
                scanPinned(spark, base, Pin.AsOf(v), withRowIds = withRowIds),
                "insert", v)
              else stamp(changes(spark, base, prev, v, withRowIds), "insert", v)
            val del =
              if (prev == 0) None
              else Some(stamp(
                removedRows(spark, base, prev, v, withRowIds), "delete", v))
            (v, acc ++ (Some(ins) ++ del))
        }
    }._2
    if (steps.isEmpty)
      stamp(scanPinned(spark, base, Pin.AsOf(toV), withRowIds = withRowIds),
        "insert", toV).filter(lit(false))
    // Era schemas may differ across the window (renames/adds) — align by
    // name, null-filling columns a step's era lacks (the additive
    // contract; renamed columns fragment by design, same as mergeSchema).
    else if (steps.size <= 64)
      steps.reduce(_.unionByName(_, allowMissingColumns = true))
    else
      // A thousand-commit window would otherwise union a thousand frames
      // into one O(window)-wide Catalyst plan (driver analysis cost, not
      // executor work). Fold in chunks through eager localCheckpoints so
      // the plan stays O(chunk) wide — the feed turns partially eager
      // for monster windows, which every consumer of such a window
      // (replication catch-up, full-history t.changes) materializes
      // anyway.
      steps.grouped(32).map(
        _.reduce(_.unionByName(_, allowMissingColumns = true)).localCheckpoint(true))
        .reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
