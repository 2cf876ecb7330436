package graft.ingest

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
import java.nio.charset.StandardCharsets.UTF_8

/** Deletes and upserts: copy-on-write deleteWhere, deletion vectors,
  * equality deletes, replaceWhere, key upserts, eq→DV conversion,
  * applyDelta, SQL MERGE support and row-coordinate scans.
  *
  * Split from the monolithic Snapshots.scala along its section seams
  * (round 16); mixed into [[Snapshots]], whose scaladoc carries the
  * design overview. `private[ingest]` on members is the trait-split
  * rendering of the old object-private visibility.
  */
trait SnapshotDeleteOps { self: Snapshots.type =>


  /** Copy-on-write DELETE at FILE granularity: only files that actually
    * contain a matching row are rewritten (without the matching rows);
    * every other live file is carried into the new snapshot BY PATH,
    * untouched. At 100 TB a selective delete therefore rewrites a handful
    * of files, not the table — the same trick Iceberg's copy-on-write
    * uses, with `input_file_name()` standing in for its file-scoped scan
    * tasks. Returns the new version (or the current one when nothing
    * matched — an empty delete publishes nothing).
    */
  /** `beforePublish` is a test seam: it runs after the touched-file scan
    * and rewrite, immediately before the commit-lock publish — the window
    * a concurrent writer's commit lands in. Production callers leave it.
    */
  def deleteWhere(spark: SparkSession, base: String,
                  cond: org.apache.spark.sql.Column,
                  beforePublish: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val vs = versions(base)
    require(vs.nonEmpty, s"no committed snapshots under $base")
    val m0 = readManifest(base, vs.max)
    // The touched-file scan reads raw parquet; under deletion vectors it
    // would resurrect DV-deleted rows into the rewrite. Materialize first.
    require(m0.dvs.isEmpty,
      "table has deletion vectors - run compact() to materialize them " +
        "before a copy-on-write delete, or use deleteWhereDV")
    // Same hazard for equality deletes: the raw rewrite would resurrect
    // key-deleted rows into the surviving files.
    require(m0.eqs.isEmpty,
      "table has equality deletes - run compact() to materialize them " +
        "before a copy-on-write delete, or use deleteWhereDV")
    val files = m0.files
    // Keep the scan's full URIs for READING (they carry the scheme); the
    // comparison set is uriPath-canonical so it matches manifest paths
    // whatever their qualification. Reads go through the era schema so a
    // post-rename cond binds by field id in pre-rename files.
    val touchedUris = readWithSchema(spark, m0.schema, files).filter(cond)
      .select(org.apache.spark.sql.functions.input_file_name().as("f")).distinct()
      .collect().map(_.getString(0)).toSeq
    val touched = touchedUris.map(uriPath).toSet
    if (touched.isEmpty) return vs.max
    // SQL DELETE semantics: only rows where cond is TRUE are deleted; rows
    // where cond is NULL (three-valued logic) must SURVIVE the rewrite, so
    // keep !coalesce(cond, false), never a bare !cond. The rewrite's df
    // carries the era schema's field ids, so its files stay id-tracked.
    // Lineage tables rewrite survivors WITH their `_row_id` (same
    // materialize-on-rewrite rule as compact).
    val rewriteScan =
      if (!rowLineageEnabled(base)) readWithSchema(spark, m0.schema, touchedUris)
      else decorateRowIds(
        readWithSchema(spark, m0.schema.map(withRowIdField), touchedUris),
        lineageFirsts(base))
    val rewritten = rewriteScan.filter(!coalesce(cond, lit(false)))
    val newFiles = writeBatch(rewritten, base, Nil)
    val v0 = vs.max
    beforePublish()
    // Carried files are recomputed from the CURRENT parent inside publish's
    // claim loop: a concurrent append that commits between our manifest read
    // above and the claim contributes files that are (by construction) not
    // in `touched`, and they carry forward instead of being lost. A
    // concurrent OVERWRITE (compact or replace) is a different story: if it
    // rewrote any `touched` file away, the parent now holds files that still
    // CONTAIN the cond-matching rows — carrying them would resurrect deleted
    // rows and duplicate survivors from our rewrite. Abort loudly instead
    // (mirror of compact's conflict check).
    publish(base, newFiles, Nil, mode = "delete", parent =>
      if (parent == 0) (Nil, Nil, Nil)
      else if (parent == v0)
        (readManifest(base, parent).files.filterNot(f => touched(uriPath(f))), Nil, Nil)
      else {
        val p = readManifest(base, parent)
        val rewrittenAway = touched -- p.files.map(uriPath).toSet
        if (rewrittenAway.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"deleteWhere based on v$v0 conflicts with a concurrent overwrite " +
              s"that rewrote ${rewrittenAway.size} of its ${touched.size} touched " +
              "file(s); retry the delete from the new version")
        // A concurrent DV/equality delete may reference a file we just
        // rewrote - carrying it would re-hide rows our rewrite kept, and
        // dropping it would resurrect that delete. Abort loudly.
        if (p.dvs.nonEmpty || p.eqs.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"deleteWhere based on v$v0 conflicts with a concurrent " +
              "row-level (DV or equality) delete; retry from the new version")
        (p.files.filterNot(f => touched(uriPath(f))), Nil, Nil)
      })
  }

  /** Last-3-components key (`data/b_<uuid>/<file>.parquet`) — the file
    * identity deletion vectors store. Scheme- and base-independent, so DV
    * contents survive table relocation just like the manifest's relative
    * paths. Holds because [[writeBatch]] and DV batches never nest
    * partition subdirectories under the batch dir.
    */
  private[ingest] def relKey(absFile: String): String =
    absFile.split('/').takeRight(3).mkString("/")

  /** Merge-on-read DELETE via deletion vectors (the Iceberg v3 / Delta DV
    * mechanism): instead of rewriting every touched data file, write one
    * small parquet of (dv_file, dv_pos) row coordinates and publish a
    * manifest that carries ALL parent data files plus the new vector.
    * [[read]] subtracts the vectors at scan time; [[compact]] materializes
    * them away. Returns the new version (no-op deletes publish nothing).
    *
    * Copy-on-write [[deleteWhere]] rewrites whole files on the write path;
    * this writes rows-deleted-sized metadata instead — at 100 TB a delete
    * of 1k rows scattered across 1k files costs one scan + a KB-scale
    * write, not a 1k-file rewrite. The read path pays the anti join, but
    * ONLY on files a vector actually references (clean files take the
    * plain scan path), so an untouched partition never slows down.
    */
  def deleteWhereDV(spark: SparkSession, base: String,
                    cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val vs = versions(base)
    require(vs.nonEmpty, s"no committed snapshots under $base")
    val v0 = vs.max
    val m = readManifest(base, v0)
    // Scan WITH row coordinates, existing vectors applied — a row already
    // DV-deleted must not be re-matched (a cond hitting only such rows is
    // a no-op, not a new version). ONE scan: coordinates are written
    // straight out, and the emptiness check + referenced-file list come
    // from that write job ([[writeVector]]), never a re-read.
    // The scan plans only files whose footer stats admit `cond` (the
    // readWhere translation): a selective delete on a clustered column
    // costs a neighborhood scan, not a table scan. Pure optimization —
    // pruned files contain no matching row, so no coordinate is lost.
    val schema = m.schema.getOrElse(scanWithDvs(spark, m, keepCoords = false).schema)
    val pruneFs = org.apache.spark.sql.graft.Bridge.pushableFilters(spark, schema, cond)
    val kept = FileStats.prune(hadoopConf, m.files, pruneFs, eraIds(m))
    val matchScan =
      if (kept.isEmpty && m.files.nonEmpty)
        scanWithDvs(spark, m, keepCoords = true)
          .filter(org.apache.spark.sql.functions.lit(false))
      else scanWithDvs(spark, m.copy(files = kept), keepCoords = true)
    val matches = matchScan
      .filter(cond)
      .select(col(DvFileCol).as("dv_file"), col(DvPosCol).as("dv_pos"))
    // `referenced`: the files this vector points at, for the conflict
    // check below. No-op delete (empty vector): publish nothing.
    val (newDvs, referenced) = writeVector(matches, base)
    if (newDvs.isEmpty) return v0
    publish(base, Nil, newDvs, mode = "delete-dv", parent =>
      if (parent == v0) (m.files, m.dvs, m.eqs)
      else {
        val p = readManifest(base, parent)
        // Concurrent appends carry fine (a DV never references their
        // files); an overwrite that rewrote a file this vector points at
        // would orphan its coordinates AND resurrect the delete - abort.
        // Concurrent DV/equality DELETES commute with this delete (both
        // only hide rows; double-hiding is idempotent) and carry fine.
        val gone = referenced -- p.files.map(relKey).toSet
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"deleteWhereDV based on v$v0 conflicts with a concurrent " +
              s"overwrite of ${gone.size} referenced file(s); retry from " +
              "the new version")
        (p.files, p.dvs, p.eqs)
      })
  }

  /** Predicate-scoped atomic replacement (Delta's `replaceWhere` / the
    * `REPLACE WHERE` backfill primitive): ONE commit that row-level-
    * deletes every existing row matching `cond` (a deletion vector over
    * the footer-stats-pruned file neighborhood — untouched files carry
    * by path, nothing is rewritten) and appends `df`. Re-running the
    * same backfill is idempotent in table STATE: the second run's vector
    * hides the first run's rows before re-appending them, so the visible
    * rows are identical (history gains a version, as any re-run would).
    *
    * `enforce = true` (default) refuses when any WRITTEN row does not
    * satisfy `cond` — a backfill writing outside its declared scope is
    * almost always a bug (Delta enforces the same invariant). The check
    * reads the just-written batch files back, so the rows checked are
    * provably the rows committed even for non-deterministic inputs
    * (same posture as CHECK enforcement); a violation removes the staged
    * batch and throws.
    *
    * Concurrency: snapshot-isolated against its base version, the
    * [[deleteWhereDV]] stance — concurrent appends carry forward
    * untouched (their rows are NOT subject to this replace's predicate),
    * and a concurrent overwrite that rewrote a vector-referenced file
    * aborts loudly. The commit's base mode is `replace-where`, NOT
    * `overwrite`: the change feed then attributes it row-level (appended
    * files = inserts, the vector's hidden rows = deletes) instead of
    * skipping it as a physical rewrite, and incremental append scans
    * deliver the new rows.
    *
    * At 100 TB: cost is the new data's write + one planning-time-pruned
    * neighborhood scan for coordinates + a KB-scale vector write. A
    * day-partitioned backfill of one day touches that day's files only.
    */
  def replaceWhere(spark: SparkSession, df: DataFrame, base: String,
                   cond: org.apache.spark.sql.Column,
                   enforce: Boolean = true,
                   sortCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val vs = versions(base)
    require(vs.nonEmpty, s"no committed snapshots under $base")
    val v0 = vs.max
    val m = readManifest(base, v0)
    // New data rides the same field-id path as an appending commit —
    // including identity/generated fill (a backfill is a user write).
    val tracked = m.schema.isDefined
    val parentLast = mintFloor(base, m)
    val dfG = applyColumnGenerators(spark, df, base, m.schema)
    val (toWrite, tableSchema, newLast) =
      if (tracked) withFieldIds(dfG, m.schema, keepParentFields = true,
        parentLastId = parentLast)
      else (dfG, null, 0L)
    val newFiles = writeBatch(toWrite, base, sortCols, checkNewData = true)
    val batchDir = new Path(newFiles.head).getParent
    if (enforce) {
      val outside =
        try spark.read.parquet(newFiles: _*)
          .filter(!coalesce(cond, lit(false))).limit(1).count()
        catch { case e: Throwable =>
          fsFor(base).delete(batchDir, true); throw e
        }
      if (outside > 0) {
        fsFor(base).delete(batchDir, true)
        throw new IllegalArgumentException(
          s"replaceWhere: a written row does not satisfy the replace " +
            s"predicate [$cond] - a backfill writing outside its declared " +
            "scope is refused (pass enforce = false to allow it)")
      }
    }
    // Row-level delete of the replaced region — [[deleteWhereDV]]'s plan:
    // coordinates over the stats-pruned neighborhood, existing vectors
    // applied so an already-hidden row is never re-matched.
    val schema = m.schema.getOrElse(scanWithDvs(spark, m, keepCoords = false).schema)
    val pruneFs = org.apache.spark.sql.graft.Bridge.pushableFilters(spark, schema, cond)
    val kept = FileStats.prune(hadoopConf, m.files, pruneFs, eraIds(m))
    val matchScan =
      if (kept.isEmpty && m.files.nonEmpty)
        scanWithDvs(spark, m, keepCoords = true).filter(lit(false))
      else scanWithDvs(spark, m.copy(files = kept), keepCoords = true)
    // An empty vector (nothing matched — first run of a backfill into
    // fresh territory) adds nothing: publish the append alone.
    val (newDvs, referenced) = writeVector(matchScan.filter(cond)
      .select(col(DvFileCol).as("dv_file"), col(DvPosCol).as("dv_pos")), base)
    publish(base, newFiles, newDvs, mode = "replace-where", parent =>
      if (parent == 0) (Nil, Nil, Nil)
      else if (parent == v0) (m.files, m.dvs, m.eqs)
      else {
        val p = readManifest(base, parent)
        val gone = referenced -- p.files.map(relKey).toSet
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"replaceWhere based on v$v0 conflicts with a concurrent " +
              s"overwrite of ${gone.size} vector-referenced file(s); " +
              "retry from the new version")
        (p.files, p.dvs, p.eqs)
      },
      schemaFor = if (!tracked) null else _ => Some(tableSchema.json),
      lastIdFor = if (!tracked) null else parent =>
        Some(newLast.max(
          if (parent <= 0) 0L else mintFloor(base, readManifest(base, parent)))))
  }

  /** Equality delete (the Iceberg v2 equality-delete file, re-expressed):
    * remove every row whose key tuple appears in `keys` (column names =
    * key columns) with ZERO target data IO — no target file is scanned,
    * rewritten, or even opened. The write costs one aggregate over `keys`
    * (its min/max envelope), a footer-stats metadata prune to pin the
    * files the delete applies to, and a keys-sized parquet write; readers
    * anti-join the key set against ONLY those referenced files, and
    * [[compact]] materializes the delete away. This is the streaming-CDC
    * write primitive: at 100 TB, a positional (DV) delete must first SCAN
    * the target to find coordinates — even runtime-pruned, that's data IO
    * per batch — while an equality delete defers all data IO to reads of
    * the touched neighborhood and to compaction (exactly why Flink writes
    * equality deletes into Iceberg v2 tables).
    *
    * Semantics: refs are pinned at this delete's commit, so keys
    * re-inserted LATER are untouched (sequence-number behavior); rows
    * with a NULL key component never match (SQL equality); the delete is
    * snapshot-isolated against its base version — concurrently APPENDED
    * rows are not affected (same stance as [[deleteWhereDV]] toward
    * concurrent appends). Key columns bind by NAME at read time;
    * [[renameColumn]]/[[dropColumn]] refuse while an outstanding equality
    * delete references the column (compact first).
    *
    * Returns the new version; a delete whose keys provably touch no live
    * file (empty keys, all-NULL keys, or full stats prune) publishes
    * nothing and returns the current version.
    */
  def deleteByKeys(spark: SparkSession, base: String, keys: DataFrame,
                   beforePublish: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions.col
    val vs = versions(base)
    require(vs.nonEmpty, s"no committed snapshots under $base")
    val v0 = vs.max
    val m = readManifest(base, v0)
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "deleteByKeys needs at least one key column")
    m.schema.foreach { s =>
      val missing = keyCols.filterNot(s.fieldNames.contains)
      require(missing.isEmpty,
        s"key column(s) ${missing.mkString(",")} not in table schema " +
          s"${s.fieldNames.mkString(",")}")
    }
    // NULL-component tuples can never match (SQL equality) — dropping
    // them up front keeps the stored key set and the read-side join
    // build minimal.
    val k = keys.filter(keyCols.map(col(_).isNotNull).reduce(_ && _)).distinct()
    val maxInKeys = runtimeConf("spark.graft.prune.maxInKeys", "10000").toInt
    val refs = FileStats.keyFilters(k, maxInKeys) match {
      case None => Nil // no non-null key tuple: nothing can match
      case Some(fs) => FileStats.prune(hadoopConf, m.files, fs, eraIds(m)).map(relKey)
    }
    if (refs.isEmpty) return v0
    val eqPath = new Path(dataDir(base), s"eq_${java.util.UUID.randomUUID().toString.take(8)}")
    k.write.parquet(eqPath.toString)
    val keyFiles = listParquet(spark, eqPath)
    writeStringNew(fsFor(base), new Path(eqPath, EqRefsName),
      (keyCols.mkString("\t") +: refs).mkString("\n"))
    beforePublish()
    maybeConvertEq(spark, base, publish(base, Nil, Nil, mode = "delete-eq", parent =>
      if (parent == v0) (m.files, m.dvs, m.eqs)
      else {
        val p = readManifest(base, parent)
        // Concurrent appends/deletes commute (refs are pinned; deletes
        // only hide rows); an overwrite that rewrote a referenced file
        // MATERIALIZED rows this delete targets into files it does not
        // reference — the delete would be silently lost. Abort.
        val gone = refs.toSet -- p.files.map(relKey).toSet
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"deleteByKeys based on v$v0 conflicts with a concurrent " +
              s"overwrite of ${gone.size} referenced file(s); retry from " +
              "the new version")
        (p.files, p.dvs, p.eqs)
      }, newEqs = keyFiles))
  }

  /** No-scan upsert: [[merge]]'s WHEN MATCHED UPDATE / NOT MATCHED INSERT
    * semantics with the matched leg expressed as an EQUALITY delete
    * instead of a DV-coordinate scan — the write path never opens a
    * target data file. One atomic commit: the source appends as new
    * files, and an equality delete pinned to the PRE-commit file set
    * hides the old rows of matched keys (the new files are not in its
    * refs, so the fresh rows survive — same-commit sequence semantics).
    * This is what a per-batch streaming upsert should write at 100 TB:
    * cost is one source aggregate + a source-sized write, independent of
    * target size and of target IO entirely; reads of the touched
    * neighborhood pay the key anti-join until [[compact]] folds it in.
    *
    * Same contract as [[merge]]: `source` must be key-unique and share
    * the table's schema. Source rows with a NULL key component simply
    * append (they can match nothing).
    */
  def upsertByKeys(spark: SparkSession, base: String, source: DataFrame,
                   keyCols: Seq[String], modeTag: String = "",
                   beforePublish: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "upsertByKeys needs at least one key column")
    val vs = versions(base)
    require(vs.nonEmpty, s"no committed snapshots under $base")
    val v0 = vs.max
    val m = readManifest(base, v0)
    val src = m.schema match {
      case Some(s) =>
        require(source.columns.toSet == s.fieldNames.toSet,
          s"upsert source columns ${source.columns.mkString(",")} must match " +
            s"the table schema ${s.fieldNames.mkString(",")}")
        source.select(s.fields.map(f => col(f.name).as(f.name, f.metadata)).toSeq: _*)
      case None => source
    }
    val srcKeys = src.select(keyCols.map(col): _*)
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _)).distinct()
    val maxInKeys = runtimeConf("spark.graft.prune.maxInKeys", "10000").toInt
    val refs = FileStats.keyFilters(srcKeys, maxInKeys) match {
      case None => Nil
      case Some(fs) => FileStats.prune(hadoopConf, m.files, fs, eraIds(m)).map(relKey)
    }
    // Pure-insert fast path: no live file can hold a matched key, so the
    // commit is a plain append of the source (no eq sidecar at all).
    val newEqs: Seq[String] =
      if (refs.isEmpty) Nil
      else {
        val eqPath = new Path(dataDir(base),
          s"eq_${java.util.UUID.randomUUID().toString.take(8)}")
        srcKeys.write.parquet(eqPath.toString)
        val keyFiles = listParquet(spark, eqPath)
        writeStringNew(fsFor(base), new Path(eqPath, EqRefsName),
          (keyCols.mkString("\t") +: refs).mkString("\n"))
        keyFiles
      }
    val newFiles = writeBatch(src, base, keyCols, checkNewData = true)
    beforePublish()
    maybeConvertEq(spark, base, publish(base, newFiles, Nil,
      mode = if (modeTag.isEmpty) "merge-eq" else s"merge-eq:$modeTag", parent =>
      if (parent == v0) (m.files, m.dvs, m.eqs)
      else {
        val p = readManifest(base, parent)
        // Serializable behavior, mirroring [[merge]]: a concurrent append
        // may hold keys this upsert targets (refs pinned at v0 would miss
        // them — duplicate keys); a concurrent overwrite of a referenced
        // file materializes target rows outside the refs (lost update); a
        // concurrent equality delete's keys were chosen against a state
        // this upsert changes. Abort on all three; concurrent DVs commute
        // (they only hide rows this upsert also hides or never touches).
        val added = p.files.toSet -- m.files.toSet
        val gone = refs.toSet -- p.files.map(relKey).toSet
        if (added.nonEmpty || gone.nonEmpty || p.eqs.toSet != m.eqs.toSet)
          throw new java.util.ConcurrentModificationException(
            s"upsertByKeys based on v$v0 conflicts with a concurrent " +
              s"commit (${added.size} file(s) added, ${gone.size} referenced " +
              "file(s) rewritten); retry from the new version")
        (p.files, p.dvs, p.eqs)
      }, newEqs = newEqs))
  }

  /** Convert every outstanding equality delete into ONE deletion vector
    * (Iceberg's "convert equality deletes to position deletes"
    * maintenance op): scan only the eq-referenced files, locate the rows
    * the key sets hide, write their (file, row) coordinates as a DV, and
    * publish a metadata commit that carries all data files + existing
    * DVs + the new vector and DROPS the eq lines. No data file is
    * rewritten.
    *
    * Why it matters: a high-frequency eq-upsert stream accumulates one
    * eq batch per micro-batch, and every reader pays one anti join PER
    * BATCH (each batch pins its own refs). DVs union into a single
    * frame, so after conversion readers pay ONE coordinate anti join no
    * matter how many deletes accumulated — this op is the cheap
    * maintenance step between streaming ingest and full [[compact]]
    * (which also materializes DVs away but rewrites data files to do
    * it). Returns the current version unchanged when no eq delete is
    * outstanding.
    */
  def convertEqToDv(spark: SparkSession, base: String): Long = {
    import org.apache.spark.sql.functions.col
    val vs = versions(base)
    require(vs.nonEmpty, s"no committed snapshots under $base")
    val v0 = vs.max
    val m = readManifest(base, v0)
    if (m.eqs.isEmpty) return v0
    // Rows hidden by the eq state = (eq-dirty scan with coords, existing
    // DVs subtracted) MINUS the same scan with eqs also applied — i.e.
    // the coordinates scanWithDvs would drop. Compute directly: rows in
    // eq-referenced files, visible under DVs, matched by any eq batch.
    val eqBatches = loadEqBatches(m)
    val liveRel = m.files.map(relKey).toSet
    val dirtyRel = eqBatches.flatMap(_.refs).filter(liveRel).toSet
    val dirty = m.files.filter(f => dirtyRel(relKey(f)))
    if (dirty.isEmpty) return v0
    val scan0 = {
      import org.apache.spark.sql.functions.substring_index
      readWithSchema(spark, m.schema, dirty)
        .withColumn(DvFileCol, substring_index(col("_metadata.file_path"), "/", -3))
        .withColumn(DvPosCol, col("_metadata.row_index"))
    }
    val noDv =
      if (m.dvs.isEmpty) scan0
      else scan0.join(
        spark.read.parquet(m.dvs: _*)
          .withColumnRenamed("dv_file", DvFileCol)
          .withColumnRenamed("dv_pos", DvPosCol),
        Seq(DvFileCol, DvPosCol), "left_anti")
    // Semi per batch, union, dedup by coordinate (a row matched by two
    // batches must coord once).
    val hidden = eqBatches.filter(_.refs.exists(liveRel)).map { b =>
      val keys = spark.read.parquet(b.keyFiles: _*)
        .select(b.keyCols.map(c => col(c).as(s"_graft_eq_$c")): _*)
      val cond = b.keyCols.map(c => noDv(c) === keys(s"_graft_eq_$c"))
        .reduce(_ && _) &&
        noDv(DvFileCol).isInCollection(b.refs.filter(liveRel))
      noDv.join(keys, cond, "left_semi")
    }.reduce(_.unionByName(_))
      .select(col(DvFileCol).as("dv_file"), col(DvPosCol).as("dv_pos"))
      .dropDuplicates("dv_file", "dv_pos")
    val (newDvs, _) = writeVector(hidden, base)
    publish(base, Nil, newDvs, mode = "eq-convert", parent =>
      if (parent == v0) (m.files, m.dvs, Nil)
      else {
        val p = readManifest(base, parent)
        // The conversion snapshot-read the v0 eq/dv/file state; ANY
        // concurrent change to it invalidates the computed coordinates
        // (a new eq delete would be silently DROPPED by our eq-free
        // manifest). Abort on any difference.
        if (p.files.toSet != m.files.toSet || p.dvs.toSet != m.dvs.toSet ||
            p.eqs.toSet != m.eqs.toSet)
          throw new java.util.ConcurrentModificationException(
            s"convertEqToDv based on v$v0 conflicts with a concurrent " +
              "commit; retry from the new version")
        (p.files, p.dvs, Nil)
      })
  }

  /** Auto-maintenance hook honoring the `write.eq-delete.max-batches`
    * table property ([[graft.connector.TableProps.EqDeleteMaxBatches]]):
    * called by every eq-writing commit with the freshly published
    * version; when the outstanding eq BATCH count (distinct sidecar
    * dirs — one per delete/upsert commit) exceeds the bound, fold them
    * into one deletion vector via [[convertEqToDv]] so read cost stays
    * bounded without an external scheduler. Returns the post-conversion
    * version (or `committed` unchanged). Losing a conversion race is
    * non-fatal — the data commit already published; the next eq commit
    * retries the fold.
    */
  private[ingest] def maybeConvertEq(spark: SparkSession, base: String,
                             committed: Long): Long = {
    val prop = graft.connector.TableProps.read(base)
      .get(graft.connector.TableProps.EqDeleteMaxBatches)
    prop match {
      case None => committed
      case Some(raw) =>
        val max =
          try raw.trim.toInt
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"table property write.eq-delete.max-batches must be an " +
                s"integer, got '$raw'")
          }
        require(max >= 0, s"write.eq-delete.max-batches must be >= 0, got $max")
        val m = readManifest(base, committed)
        val batches = m.eqs.map(f => new Path(f).getParent.toString).distinct.size
        if (batches <= max) committed
        else
          try convertEqToDv(spark, base)
          catch { case e: java.util.ConcurrentModificationException =>
            // the eq commit itself is durable; maintenance retries later
            System.err.println(
              s"[graft] auto convert_eq_deletes on $base lost a commit " +
                s"race (will retry on the next eq commit): ${e.getMessage}")
            committed
          }
    }
  }

  /** Generalized one-commit delta: equality-delete `deleteKeys` (column
    * names = key columns; may be empty) AND append `inserts` (may be
    * empty), published atomically as ONE `merge-eq[:tag]` commit — the
    * CDC APPLY primitive. [[upsertByKeys]] is the special case where the
    * delete keys are the insert rows' keys; replication of a source
    * commit whose delete and insert sets differ (a pure delete, a pure
    * append, or a merge) needs them independent. Same zero-target-IO
    * physics and refs-pinning semantics as [[deleteByKeys]] (the eq
    * delete never references this commit's own inserts), same
    * serializable conflict behavior as [[upsertByKeys]].
    *
    * Publishes even when both legs are empty iff `modeTag` is non-empty
    * — the tag is an idempotency MARKER for exactly-once replay
    * ([[graft.streaming.StreamIngest.replicateBatch]]), and a marker
    * that silently vanished on an empty delta would re-apply its source
    * commit forever.
    */
  def applyDelta(spark: SparkSession, base: String,
                 deleteKeys: Option[DataFrame], inserts: Option[DataFrame],
                 modeTag: String = ""): Long = {
    import org.apache.spark.sql.functions.col
    val vs = versions(base)
    require(vs.nonEmpty, s"no committed snapshots under $base")
    val v0 = vs.max
    val m = readManifest(base, v0)
    val ins = inserts.map { df =>
      m.schema match {
        case Some(s) =>
          require(df.columns.toSet == s.fieldNames.toSet,
            s"delta inserts (${df.columns.mkString(",")}) must match " +
              s"the table schema (${s.fieldNames.mkString(",")})")
          df.select(s.fields.map(f => col(f.name).as(f.name, f.metadata)).toSeq: _*)
        case None => df
      }
    }
    val maxInKeys = runtimeConf("spark.graft.prune.maxInKeys", "10000").toInt
    val (newEqs: Seq[String], refs: Seq[String]) = deleteKeys match {
      case None => (Nil, Nil)
      case Some(keysDf) =>
        val keyCols = keysDf.columns.toSeq
        require(keyCols.nonEmpty, "applyDelta delete keys need >= 1 column")
        // Same schema-membership check as [[deleteByKeys]]: a misspelled
        // key column would otherwise write an eq sidecar keyed on a
        // nonexistent column, poisoning every subsequent read of the
        // referenced files until compact().
        m.schema.foreach { s =>
          val missing = keyCols.filterNot(s.fieldNames.contains)
          require(missing.isEmpty,
            s"delete-key column(s) ${missing.mkString(",")} not in table " +
              s"schema ${s.fieldNames.mkString(",")}")
        }
        val k = keysDf
          .filter(keyCols.map(col(_).isNotNull).reduce(_ && _)).distinct()
        val rs = FileStats.keyFilters(k, maxInKeys) match {
          case None => Nil
          case Some(fs) => FileStats.prune(hadoopConf, m.files, fs, eraIds(m)).map(relKey)
        }
        if (rs.isEmpty) (Nil, Nil)
        else {
          val eqPath = new Path(dataDir(base),
            s"eq_${java.util.UUID.randomUUID().toString.take(8)}")
          k.write.parquet(eqPath.toString)
          val keyFiles = listParquet(spark, eqPath)
          writeStringNew(fsFor(base), new Path(eqPath, EqRefsName),
            (keyCols.mkString("\t") +: rs).mkString("\n"))
          (keyFiles, rs)
        }
    }
    val newFiles = ins.map(writeBatch(_, base, Nil, checkNewData = true)).getOrElse(Nil)
    if (newFiles.isEmpty && newEqs.isEmpty && modeTag.isEmpty) return v0
    maybeConvertEq(spark, base, publish(base, newFiles, Nil,
      mode = if (modeTag.isEmpty) "merge-eq" else s"merge-eq:$modeTag", parent =>
      if (parent == v0) (m.files, m.dvs, m.eqs)
      else {
        val p = readManifest(base, parent)
        val added = p.files.toSet -- m.files.toSet
        val gone = refs.toSet -- p.files.map(relKey).toSet
        if (added.nonEmpty || gone.nonEmpty || p.eqs.toSet != m.eqs.toSet)
          throw new java.util.ConcurrentModificationException(
            s"applyDelta based on v$v0 conflicts with a concurrent commit " +
              s"(${added.size} file(s) added, ${gone.size} referenced " +
              "file(s) rewritten); retry from the new version")
        (p.files, p.dvs, p.eqs)
      }, newEqs = newEqs))
  }

  /** Batch MERGE (upsert): rows from `source` replace same-key rows in the
    * table and new keys append — SQL MERGE's WHEN MATCHED THEN UPDATE /
    * WHEN NOT MATCHED THEN INSERT, taking source rows WHOLE. Built on
    * deletion vectors: matched target rows are DV-deleted (a semi join
    * against the broadcast-able source key set — no target file is
    * rewritten), and the entire source appends as new files; both legs
    * publish as ONE commit, so readers see the upsert atomically or not
    * at all. At 100 TB a merge touching 0.1% of rows costs one target
    * scan + a source-sized write — the merge-on-read economics Iceberg
    * v3 moved to, vs copy-on-write's rewrite of every touched file.
    *
    * `source` must be key-unique (enforce upstream with dropDuplicates;
    * duplicate source keys would append twice). Requires the source to
    * share the table's schema.
    */
  /** `beforePublish` is the same test seam as [[deleteWhere]]'s: it runs
    * after both legs are written, immediately before the locked publish.
    */
  def merge(spark: SparkSession, base: String, source: DataFrame,
            keyCols: Seq[String], modeTag: String = "",
            beforePublish: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val vs = versions(base)
    require(vs.nonEmpty, s"no committed snapshots under $base")
    val v0 = vs.max
    val m = readManifest(base, v0)
    // On an id-tracked table the source aligns to the table's field ids
    // (same names required — the documented merge contract), so its
    // insert-leg files are id-carrying like every other data file.
    val src = m.schema match {
      case Some(s) =>
        require(source.columns.toSet == s.fieldNames.toSet,
          s"merge source columns ${source.columns.mkString(",")} must match " +
            s"the table schema ${s.fieldNames.mkString(",")}")
        source.select(s.fields.map(f => col(f.name).as(f.name, f.metadata)).toSeq: _*)
      case None => source
    }
    // Coordinates of target rows whose key appears in the source: the
    // DV-delete leg. left_semi keeps the scan side's columns only, so the
    // projection is (coords + keys) — column pruning drops the rest. ONE
    // scan: the coordinate set is written first, and the emptiness check
    // and referenced-file list both come from that write job
    // ([[writeVector]]), never from re-running the target scan.
    //
    // The scan is RUNTIME-PRUNED by the source's key envelope
    // ([[FileStats.keyFilters]]): on a key-clustered table, a batch-sized
    // upsert touches a batch-sized file neighborhood, and target files
    // whose footer stats can't hold any source key never reach the
    // left_semi join — the merge cost tracks the SOURCE size, not the
    // table size. Safe because this scan only feeds the matched
    // (equi-join) leg; the insert leg below never reads the target.
    val srcKeys = src.select(keyCols.map(col): _*).distinct()
    val maxInKeys = runtimeConf("spark.graft.prune.maxInKeys", "10000").toInt
    val matchedScan = FileStats.keyFilters(srcKeys, maxInKeys) match {
      case None => // no joinable source key at all: nothing can match
        scanWithDvs(spark, m, keepCoords = true)
          .filter(org.apache.spark.sql.functions.lit(false))
      case Some(fs) =>
        val kept = FileStats.prune(hadoopConf, m.files, fs, eraIds(m))
        if (kept.isEmpty && m.files.nonEmpty)
          scanWithDvs(spark, m, keepCoords = true)
            .filter(org.apache.spark.sql.functions.lit(false))
        else scanWithDvs(spark, m.copy(files = kept), keepCoords = true)
    }
    val matched = matchedScan
      .join(srcKeys, keyCols, "left_semi")
      .select(col(DvFileCol).as("dv_file"), col(DvPosCol).as("dv_pos"))
    // An insert-only merge (no matched keys) drops its empty vector dir
    // eagerly, same as a no-op DV delete.
    val (newDvs, referenced) = writeVector(matched, base)
    // The insert leg: the whole source (updates are delete+insert).
    val newFiles = writeBatch(src, base, keyCols, checkNewData = true)
    beforePublish()
    publish(base, newFiles, newDvs,
      mode = if (modeTag.isEmpty) "merge" else s"merge:$modeTag", parent =>
      if (parent == v0) (m.files, m.dvs, m.eqs)
      else {
        val p = readManifest(base, parent)
        // A concurrent APPEND may have added rows for keys this merge is
        // upserting — carrying its files uninspected would leave duplicate
        // key rows, silently breaking the upsert invariant. Serializable
        // behavior (Iceberg's choice for MERGE): abort on ANY concurrent
        // data-file change and let the caller retry against the new state.
        // Same for a concurrent EQUALITY delete: its keys were chosen
        // against a state this merge is changing (it may delete keys the
        // merge re-inserts, or miss the merge's inserts) — no serial
        // order reproduces carrying both.
        val added = p.files.toSet -- m.files.toSet
        val gone = referenced -- p.files.map(relKey).toSet
        if (added.nonEmpty || gone.nonEmpty || p.eqs.toSet != m.eqs.toSet)
          throw new java.util.ConcurrentModificationException(
            s"merge based on v$v0 conflicts with a concurrent commit " +
              s"(${added.size} file(s) added, ${gone.size} referenced file(s) " +
              "rewritten); retry from the new version")
        (p.files, p.dvs, p.eqs)
      })
  }

  private[ingest] val DvFileCol = "_graft_dv_file"
  private[ingest] val DvPosCol = "_graft_dv_pos"

  /** Per-eq-batch sidecar: first line = tab-joined key column names, one
    * referenced data-file rel key per following line. Rel keys make the
    * delete relocation-safe, same as DV coordinates.
    */
  private[ingest] val EqRefsName = "_refs.txt"

  /** The (file, position) coordinate column names of [[scanWithCoords]]
    * output — public so row-level executors (SQL MERGE/UPDATE) can name
    * them without hardcoding. */
  def rowCoordColumns: (String, String) = (DvFileCol, DvPosCol)

  /** The latest version's rows WITH their row coordinates (existing DVs
    * already subtracted), plus that version number — the read half of a
    * generalized row-level change; feed the coordinates of rows to
    * remove into [[applyRowChanges]] against the returned version.
    */
  def scanWithCoords(spark: SparkSession, base: String): (DataFrame, Long) =
    scanWithCoords(spark, base, Nil)

  /** [[scanWithCoords]] with planning-time file pruning: files whose
    * footer stats prove no row satisfies `pruneFilters` never reach the
    * scan. Callers must only prune when unseen rows cannot matter (e.g.
    * a MERGE without NOT MATCHED BY SOURCE prunes by the source's key
    * envelope: unmatched target rows produce nothing, and pruned files
    * can't hold matched ones).
    */
  def scanWithCoords(spark: SparkSession, base: String,
                     pruneFilters: Seq[org.apache.spark.sql.sources.Filter]): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.lit
    val vs = versions(base)
    require(vs.nonEmpty, s"no committed snapshots under $base")
    val m = readManifest(base, vs.max)
    val kept = FileStats.prune(hadoopConf, m.files, pruneFilters, eraIds(m))
    // On a lineage table the coordinate scan also carries `_row_id`, so a
    // row-change consumer (SQL MERGE/UPDATE) can hand each update leg's
    // row its own id back through [[applyRowChanges]].
    val rowIds =
      if (rowLineageEnabled(base)) Some(lineageFirsts(base)) else None
    val scan =
      if (kept.isEmpty && m.files.nonEmpty)
        scanWithDvs(spark, m, keepCoords = true, rowIds = rowIds)
          .filter(lit(false))
      else scanWithDvs(spark, m.copy(files = kept), keepCoords = true,
        rowIds = rowIds)
    (scan, vs.max)
  }

  /** `cols` of the CURRENT version's rows that row-level deletes HIDE —
    * physically present in live data files but subtracted from every
    * read by a deletion vector or an outstanding equality-delete batch.
    * The serving-side subtraction set for external indexes built over
    * raw live files (e.g. [[graft.ops.AnnIndex]], whose inverted lists
    * index every row a file holds): probe results anti-join this frame
    * so soft-deleted rows never serve, without the index paying a
    * rewrite per delete. `cols` may include the [[rowCoordColumns]]
    * names — the hidden rows' physical (rel-key file, position)
    * coordinates, the RIGHT anti-join grain for an index that can hold
    * several physical copies of one logical key (an upsert hides only
    * the OLD copy; a key-level subtraction would kill the live one too).
    *
    * Cost discipline: only delete-REFERENCED files scan (the same dirty
    * slice [[read]] already decorates), so the frame is bounded by
    * outstanding-delete traffic, never the table. Compaction
    * materializes deletes away and empties this frame.
    */
  def hiddenRows(spark: SparkSession, base: String, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, substring_index}
    val vs = versions(base)
    require(vs.nonEmpty, s"no committed snapshots under $base")
    val m = readManifest(base, vs.max)
    val eqBatches = loadEqBatches(m)
    // the empty frame also answers coordinate-column requests, which the
    // plain read does not carry
    def empty = read(spark, base)
      .withColumn(DvFileCol, lit(null).cast("string"))
      .withColumn(DvPosCol, lit(null).cast("long"))
      .select(cols.map(col): _*).filter(lit(false))
    if (m.dvs.isEmpty && eqBatches.isEmpty) return empty
    val dvOpt =
      if (m.dvs.isEmpty) None
      else Some(spark.read.parquet(m.dvs: _*)
        .withColumnRenamed("dv_file", DvFileCol)
        .withColumnRenamed("dv_pos", DvPosCol))
    val dvDirtyRel = dvOpt.map(
        _.select(DvFileCol).distinct().collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty[String])
    val liveRel = m.files.map(relKey).toSet
    val eqDirtyRel = eqBatches.flatMap(_.refs).filter(liveRel).toSet
    val dirty = m.files.filter(f => (dvDirtyRel ++ eqDirtyRel)(relKey(f)))
    if (dirty.isEmpty) return empty
    val decorated = readWithSchema(spark, m.schema, dirty, mergeSchema = false)
      .withColumn(DvFileCol, substring_index(col("_metadata.file_path"), "/", -3))
      .withColumn(DvPosCol, col("_metadata.row_index"))
    val dvHidden = dvOpt.map(dv =>
      decorated.join(dv, Seq(DvFileCol, DvPosCol), "left_semi"))
    val eqHidden = eqBatches.filter(_.refs.exists(liveRel)).map { b =>
      val keys = spark.read.parquet(b.keyFiles: _*)
        .select(b.keyCols.map(c => col(c).as(s"_graft_eq_$c")): _*)
      val cond = b.keyCols.map(c => decorated(c) === keys(s"_graft_eq_$c"))
        .reduce(_ && _) &&
        decorated(DvFileCol).isInCollection(b.refs.filter(liveRel))
      decorated.join(keys, cond, "left_semi")
    }
    // a row both DV- and eq-hidden must not double-count: dedupe on its
    // physical coordinate before projecting the caller's columns
    (dvHidden.toSeq ++ eqHidden).reduce(_.unionByName(_))
      .dropDuplicates(DvFileCol, DvPosCol)
      .select(cols.map(col): _*)
  }
}
