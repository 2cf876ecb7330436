package graft.ingest

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
import java.nio.charset.StandardCharsets.UTF_8

/** Row lineage (stable row ids): metadata-only assignment, backfill,
  * lineage reads and row-grain change application.
  *
  * Split from the monolithic Snapshots.scala along its section seams
  * (round 16); mixed into [[Snapshots]], whose scaladoc carries the
  * design overview. `private[ingest]` on members is the trait-split
  * rendering of the old object-private visibility.
  */
trait SnapshotLineageOps { self: Snapshots.type =>


  // ---------------------------------------------------------------------
  // Row lineage (stable row ids) — Iceberg v3's row-id model re-expressed
  // (spec's row-lineage section; Delta calls it row tracking): every row
  // of a lineage-enabled table owns a durable long `_row_id`, assigned by
  // the commit that first wrote it and identical forever after — through
  // compaction, clustering, binpack, clone and SQL UPDATE/MERGE. Appends
  // pay NOTHING on the data path: ids are assigned as METADATA (per new
  // file, a `first_row_id` range claimed from the same crash-safe ledger
  // identity columns use; a row's id is first + its parquet row index),
  // recorded in `_rowids/a_*.tsv` sidecars — at 100 TB a bulk ingest's
  // lineage cost is one footer read per new file plus a KB-scale sidecar,
  // never a data pass. Only REWRITES (compact, CoW delete, MERGE/UPDATE
  // legs) materialize `_row_id` as a physical parquet column: they
  // rewrite the bytes anyway, and position-derived ids die with the old
  // positions (the Iceberg v3 rule — "first-row-id inheritance until the
  // file is rewritten"). Reads resolve
  // `coalesce(physical, first_row_id(file) + row_index)`.
  //
  // Id-retirement stances (documented, not accidental): an equality-
  // delete upsert ([[upsertByKeys]], [[replaceWhere]]) writes its new
  // rows BLIND — no target scan is the whole point — so the new copy of
  // a key mints a FRESH id and the old id retires with the hidden row;
  // SQL MERGE/UPDATE scan the target anyway, so their update legs KEEP
  // the row's id (Delta row tracking's preserved-on-update semantics).
  // ---------------------------------------------------------------------

  /** The reserved row-lineage column name. Hidden from plain [[read]]
    * (rewritten files carry it physically, but the table schema never
    * lists it, so scans don't request it); surfaced by [[readLineage]]
    * and `changeFeed(withRowIds = true)`. */
  val RowIdCol = "_row_id"

  private[ingest] def rowIdsDir(base: String) = new Path(base, "_rowids")

  /** Whether the table opted into row lineage ([[enableRowLineage]]) —
    * one fs.exists, the same metadata class as the lock probe. */
  def rowLineageEnabled(base: String): Boolean =
    try fsFor(base).exists(new Path(rowIdsDir(base), "_enabled"))
    catch { case _: Exception => false }

  /** Exact footer row count + whether the file physically carries
    * `_row_id`. Unlike the best-effort stats sidecar, lineage assignment
    * REQUIRES exact counts — a failed footer read fails the commit
    * loudly instead of minting a wrong id range. */
  private[ingest] def footerRows(file: String): (Long, Boolean) = {
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(file), hadoopConf))
    try {
      import scala.jdk.CollectionConverters._
      val hasRid = rd.getFooter.getFileMetaData.getSchema.getFields.asScala
        .exists(_.getName == RowIdCol)
      (rd.getRecordCount, hasRid)
    } finally rd.close()
  }

  /** Metadata-assign row-id ranges to new data files: ONE ledger claim
    * for the batch total (lock held microseconds, like identity claims),
    * then one `_rowids/a_*.tsv` sidecar recording `relKey \t first \t
    * rows` per file. Files already carrying a physical `_row_id` column
    * skip (their ids ride the bytes); files are processed in sorted-name
    * order so assignment is deterministic given deterministic input.
    * Orphan entries for files whose publish later loses its CAS are
    * harmless dead keys (same stance as burned identity gaps). */
  private[ingest] def assignRowIdRanges(base: String, files: Seq[String]): Long = {
    val metas = files.sorted.map(f => (relKey(f), footerRows(f)))
      .collect { case (k, (rows, hasRid)) if !hasRid && rows > 0 => (k, rows) }
    if (metas.isEmpty) return 0L
    var next = claimIdentityRange(base, RowIdCol, metas.map(_._2).sum)
    val sb = new StringBuilder
    metas.foreach { case (k, rows) =>
      sb.append(k).append('\t').append(next).append('\t').append(rows).append('\n')
      next += rows
    }
    writeStringNew(fsFor(base), new Path(rowIdsDir(base),
      s"a_${java.util.UUID.randomUUID().toString.take(8)}.tsv"), sb.toString)
    metas.size.toLong
  }

  /** relKey → first_row_id for every metadata-assigned file. Driver IO
    * bounded by lineage-commit count (one sidecar each), the manifest-
    * listing metadata class; entries for expired files ride along as
    * harmless dead keys. */
  private[graft] def lineageFirsts(base: String): Map[String, Long] = {
    val fs = fsFor(base)
    val dir = rowIdsDir(base)
    if (!(try fs.exists(dir) catch { case _: Exception => false })) return Map.empty
    listDir(fs, dir).filter(_.getPath.getName.startsWith("a_"))
      .flatMap(st => readString(fs, st.getPath).split("\n", -1).filter(_.nonEmpty)
        .map { l => val Array(k, f, _) = l.split("\t", 3); k -> f.toLong })
      .toMap
  }

  /** The table schema plus the lineage read column (no field id — the
    * physical `_row_id` in rewritten files is written id-less, so this
    * field name-matches there and null-fills in metadata-assigned
    * files). */
  private[ingest] def withRowIdField(s: StructType): StructType =
    if (s.fieldNames.contains(RowIdCol)) s
    else s.add(RowIdCol, org.apache.spark.sql.types.LongType, nullable = true)

  /** `_row_id` resolution over a SCAN-ROOTED frame (it reads `_metadata`,
    * which joins above the file scan would break): the physical column
    * when the file carries one, else the file's metadata-assigned first
    * id + the row's parquet position. The firsts map rides the plan as a
    * literal — bounded by the SCANNED file count needing metadata
    * resolution, the same driver-material class as the manifest file
    * list itself, and it shrinks as compaction materializes ids into
    * bytes. A file missing from the map (enable raced an in-flight
    * write) resolves NULL — loud in any uniqueness check; repair with
    * [[backfillRowIds]]. */
  private[ingest] def decorateRowIds(df: DataFrame, firsts: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, element_at, lit, substring_index, typedLit}
    val physical =
      if (df.columns.contains(RowIdCol)) col(RowIdCol)
      else lit(null).cast("long")
    df.withColumn(RowIdCol, coalesce(physical,
      element_at(typedLit(firsts),
        substring_index(col("_metadata.file_path"), "/", -3)) +
        col("_metadata.row_index")))
  }

  /** Opt the table into row lineage: drop the `_enabled` marker and
    * backfill metadata assignments for every live file (footer reads
    * only — no data pass). Idempotent. Requires a schema-tracked table
    * whose schema does not already use the reserved name. DDL-vs-write
    * discipline: like schema changes, enablement is single-writer — a
    * data write in flight while lineage turns on (files written before
    * the marker, published after this backfill) gets no assignment;
    * its rows read `_row_id` NULL until [[backfillRowIds]] repairs. */
  def enableRowLineage(base: String): Long = {
    val vs = versions(base)
    if (vs.nonEmpty) {
      val m = readManifest(base, vs.max)
      require(m.schema.isDefined,
        s"row lineage requires a schema-tracked table - $base is legacy " +
          "name-based (its files carry no field ids)")
      require(!m.schema.get.fieldNames.contains(RowIdCol),
        s"table schema already has a column named $RowIdCol - rename it " +
          "before enabling row lineage (the name is reserved)")
    }
    val fs = fsFor(base)
    fs.mkdirs(rowIdsDir(base))
    try writeStringNew(fs, new Path(rowIdsDir(base), "_enabled"), "")
    catch { case _: Exception => () } // marker exists = already enabled
    backfillRowIds(base)
  }

  /** Assign row-id ranges to live files that have neither a physical
    * `_row_id` column nor a metadata assignment — the enable-time
    * backfill, and the repair for a write that raced enablement.
    * Idempotent; metadata-only (footer reads, one sidecar write). */
  def backfillRowIds(base: String): Long = {
    require(rowLineageEnabled(base), s"row lineage not enabled on $base")
    val vs = versions(base)
    if (vs.isEmpty) return 0L
    val have = lineageFirsts(base).keySet
    assignRowIdRanges(base,
      readManifest(base, vs.max).files.filterNot(f => have(relKey(f))))
  }

  /** [[read]] plus the durable `_row_id` lineage column — the surfaced
    * half of row lineage (plain reads never see the column). Same DV/
    * equality-delete subtraction, time travel and era-schema behavior as
    * [[read]]. */
  def readLineage(spark: SparkSession, base: String,
                  asOf: Option[Long] = None): DataFrame = {
    require(rowLineageEnabled(base),
      s"row lineage not enabled on $base - call enableRowLineage first")
    scanPinned(spark, base, asOf.map(Pin.AsOf).getOrElse(Pin.Latest),
      withRowIds = true)
  }

  /** Fill NULL `_row_id` slots (a MERGE's insert-leg rows) from a claimed
    * ledger range. Changed-rows-sized frames only — appends take the
    * zero-cost metadata path instead. Same one-materialization
    * discipline as the identity fill: the checkpoint pins one row set
    * that the count, the claim and the write all see. */
  private[ingest] def fillRowIds(spark: SparkSession, df: DataFrame, base: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = df.localCheckpoint()
    val nulls = snap.filter(snap(RowIdCol).isNull)
    val n = nulls.count()
    if (n == 0L) return snap
    val k0 = claimIdentityRange(base, RowIdCol, n)
    val idxField = "__graft_rowid_idx"
    val indexed = spark.createDataFrame(
      nulls.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      },
      nulls.schema.add(idxField, org.apache.spark.sql.types.LongType))
    snap.filter(snap(RowIdCol).isNotNull).unionByName(
      indexed.withColumn(RowIdCol, (lit(k0) + col(idxField)).cast("long"))
        .drop(idxField))
  }

  /** Generalized atomic row change against `fromVersion` (the version
    * [[scanWithCoords]] was taken at): DV-delete every coordinate in
    * `deleteCoords` (columns [[rowCoordColumns]]) and append `inserts`,
    * published as ONE `merge` commit — SQL MERGE/UPDATE's storage
    * primitive. Same merge-on-read economics and serializable conflict
    * behavior as [[merge]]: no data file is rewritten, and ANY concurrent
    * data-file change aborts (a concurrent append could hold rows the
    * caller's join never saw).
    */
  def applyRowChanges(spark: SparkSession, base: String, fromVersion: Long,
                      deleteCoords: DataFrame, inserts: Option[DataFrame],
                      modeTag: String = ""): Long = {
    import org.apache.spark.sql.functions.col
    val m = readManifest(base, fromVersion)
    val lineage = rowLineageEnabled(base)
    val aligned = inserts.map { ins =>
      // Lineage carrier contract: inserts MAY carry `_row_id` (update
      // legs keep their row's id; insert legs carry NULL and fill from a
      // claimed range below). When the TABLE SCHEMA itself has a
      // `_row_id` field it is a legitimate user data column (only
      // possible on non-lineage tables — enablement refuses the name),
      // so it flows as data, not as a carrier. Otherwise, without
      // lineage the name is refused — a reserved column reaching the
      // write path is a caller bug.
      val schemaHasRid = m.schema.exists(_.fieldNames.contains(RowIdCol))
      val hasRid = !schemaHasRid && ins.columns.contains(RowIdCol)
      require(lineage || !hasRid,
        s"row-change inserts carry reserved column $RowIdCol but row " +
          s"lineage is not enabled on $base")
      m.schema match {
        case Some(s) =>
          require(ins.columns.filterNot(c => hasRid && c == RowIdCol).toSet
              == s.fieldNames.toSet,
            s"row-change inserts (${ins.columns.mkString(",")}) must match " +
              s"the table schema (${s.fieldNames.mkString(",")})")
          // carrier-mode generators: a merge's update rows carry their
          // identity values (kept), its insert rows carry NULL slots
          // (filled from a claimed range), and generated columns are
          // recomputed UNCONDITIONALLY so the row-wise invariant
          // survives UPDATE legs that changed an input column. An
          // assignment (or star expansion) that named a generated column
          // is therefore OVERRIDDEN by the recompute — the invariant
          // wins over the assignment, Delta's generated-column stance.
          // metadata re-attached AFTER generation: withColumn replaces
          // the generated/identity fields and strips their field-id
          // metadata, and a written file without ids reads back NULL on
          // an id-tracked table.
          val gen = applyColumnGenerators(spark, ins, base, Some(s), enforce = false)
            .select((s.fields.map(f => col(f.name).as(f.name, f.metadata)).toSeq ++
              (if (hasRid) Seq(col(RowIdCol)) else Nil)): _*)
          if (hasRid) fillRowIds(spark, gen, base) else gen
        case None => ins
      }
    }
    val (newDvs, referenced) = writeVector(deleteCoords
      .select(col(DvFileCol).as("dv_file"), col(DvPosCol).as("dv_pos")), base)
    val newFiles = aligned.map(writeBatch(_, base, Nil, checkNewData = true)).getOrElse(Nil)
    if (newDvs.isEmpty && newFiles.isEmpty) return fromVersion // full no-op
    publish(base, newFiles, newDvs,
      mode = if (modeTag.isEmpty) "merge" else s"merge:$modeTag", parent =>
      if (parent == fromVersion) (m.files, m.dvs, m.eqs)
      else {
        val p = readManifest(base, parent)
        val added = p.files.toSet -- m.files.toSet
        val gone = referenced -- p.files.map(relKey).toSet
        // A concurrent DV or equality commit deleted rows this change's
        // insert leg may have READ pre-delete and be re-inserting —
        // carrying it would resurrect the delete (no serial order
        // produces that). Same abort discipline as deleteWhere's
        // file-level check.
        val dvChanged = p.dvs.toSet != m.dvs.toSet || p.eqs.toSet != m.eqs.toSet
        if (added.nonEmpty || gone.nonEmpty || dvChanged)
          throw new java.util.ConcurrentModificationException(
            s"row change based on v$fromVersion conflicts with a concurrent " +
              s"commit (${added.size} file(s) added, ${gone.size} referenced " +
              s"file(s) rewritten, row-level-delete change: $dvChanged); " +
              "retry from the new version")
        (p.files, p.dvs, p.eqs)
      })
  }

  /** One equality-delete batch as loaded from its sidecar: the key column
    * names, the files it applies to (live-intersected rel keys), and the
    * key-tuple parquet paths.
    */
  private[ingest] case class EqBatch(keyCols: Seq[String], refs: Seq[String],
                             keyFiles: Seq[String])
}
