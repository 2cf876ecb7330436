package graft.ingest

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField, StructType}
import java.nio.charset.StandardCharsets.UTF_8

/** The DV/equality-delete-aware scan core and compaction.
  *
  * Split from the monolithic Snapshots.scala along its section seams
  * (round 16); mixed into [[Snapshots]], whose scaladoc carries the
  * design overview. `private[ingest]` on members is the trait-split
  * rendering of the old object-private visibility.
  */
trait SnapshotDvScanOps { self: Snapshots.type =>


  /** Load the latest state of a manifest's equality deletes: one batch per
    * eq dir, refs intersected with the live file set (a ref whose file was
    * since rewritten away contributes nothing). Metadata-sized driver IO —
    * one `_refs.txt` read per eq batch.
    */
  private[ingest] def loadEqBatches(m: Manifest): Seq[EqBatch] = {
    if (m.eqs.isEmpty) return Nil
    m.eqs.groupBy(f => new Path(f).getParent).toSeq.sortBy(_._1.toString)
      .flatMap { case (dir, keyFiles) =>
        val fs = dir.getFileSystem(hadoopConf)
        val lines = readString(fs, new Path(dir, RefsName)).split("\n", -1)
          .toSeq.filter(_.nonEmpty)
        val keyCols = lines.head.split("\t").toSeq
        val refs = lines.tail
        if (refs.isEmpty) None else Some(EqBatch(keyCols, refs, keyFiles))
      }
  }

  /** The schema every deletion vector is written with ([[writeVector]]). */
  private[ingest] val VectorSchema = StructType(Seq(
    StructField("dv_file", StringType), StructField("dv_pos", LongType)))

  /** Vector files' coordinates as ([[DvFileCol]], [[DvPosCol]]), read with
    * [[VectorSchema]], so building the frame runs no schema-inference job.
    */
  private[ingest] def readVectors(spark: SparkSession, dvs: Seq[String]): DataFrame =
    spark.read.schema(VectorSchema).parquet(dvs: _*)
      .withColumnRenamed("dv_file", DvFileCol)
      .withColumnRenamed("dv_pos", DvPosCol)

  /** An equality batch's key tuples, renamed `_graft_eq_<col>`. The schema
    * is one key file's footer, read on the driver: the batch's files come
    * from one write, so they share it, and Spark's own non-merge inference
    * converts that same footer with the same converter — in a Spark job.
    */
  private[ingest] def readEqKeys(spark: SparkSession, b: EqBatch): DataFrame = {
    val first = new Path(b.keyFiles.head)
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = org.apache.spark.sql.graft.Bridge.parquetSchema(spark,
      first.getFileSystem(conf).getFileStatus(first), conf)
    spark.read.schema(schema).parquet(b.keyFiles: _*)
      .select(b.keyCols.map(c => col(c).as(s"_graft_eq_$c")): _*)
  }

  /** Which rel keys ([[relKey]]) the vectors `dvs` or the equality batches
    * reference — the dirty set a delete-aware read decorates and joins.
    * Metadata IO only: one `_refs.txt` read per vector dir, no Spark job.
    * A vector dir without `_refs.txt` (written before [[writeVector]]
    * recorded one) makes every file dirty: a positional anti join removes
    * nothing from a clean file, so over-marking costs join work, never rows.
    */
  private[ingest] def referenced(dvs: Seq[String], eqBatches: Seq[EqBatch]): String => Boolean = {
    val vectorRefs = dvs.map(f => new Path(f).getParent).distinct.map { dir =>
      val fs = dir.getFileSystem(hadoopConf)
      try Some(readString(fs, new Path(dir, RefsName)).split("\n").filter(_.nonEmpty))
      catch { case _: java.io.FileNotFoundException => None }
    }
    if (vectorRefs.contains(None)) _ => true
    else (vectorRefs.flatten.flatten ++ eqBatches.flatMap(_.refs)).toSet
  }

  /** Scan of a manifest with row-level deletes applied — deletion vectors
    * (positional) AND equality deletes (key-tuple). Row coordinates
    * (`_graft_dv_file` relocatable last-3 key + `_graft_dv_pos` parquet
    * row index) come from Spark's `_metadata` struct — no shuffle, no
    * row-number window. Only files a delete actually REFERENCES pay the
    * anti joins; every clean file takes the plain scan path, so at scale
    * the subtraction cost is proportional to the dirty file set, not the
    * table. Build sides are rows-deleted-sized (DV) or key-set-sized
    * (equality: the anti join keys on the key columns and checks the
    * delete's referenced-file membership as an InSet residual on the
    * matched pair — never a keys×refs product, so an unclustered table
    * with file-spanning refs still pays only a keys-sized build) and
    * hash-partition like any join — AQE broadcasts them when small.
    *
    * Equality semantics: a delete's keys remove rows ONLY in the files the
    * delete referenced at its commit (refs pinned at write), so rows
    * re-inserted for a deleted key AFTER the delete are never touched —
    * the Iceberg v2 sequence-number rule, carried by the refs list
    * instead of per-file sequence numbers. NULL key components never
    * match (SQL equality), mirroring MERGE's join.
    *
    * Building the frame runs no Spark job: the dirty set comes from the
    * delete dirs' `_refs.txt` sidecars ([[referenced]]), and vector and
    * key files are read with known schemas ([[readVectors]],
    * [[readEqKeys]]). A table with no row-level delete takes the plain
    * scan at once.
    */
  private[ingest] def scanWithDvs(spark: SparkSession, m: Manifest,
                          keepCoords: Boolean,
                          mergeSchema: Boolean = false,
                          rowIds: Option[Map[String, Long]] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, substring_index}
    // `rowIds` = Some(firsts): decorate every file scan with the lineage
    // `_row_id` column (physical where present, metadata-derived
    // otherwise) BEFORE any delete anti join — the column then rides the
    // joins like any data column.
    def readFiles(files: Seq[String]) = rowIds match {
      case None => readWithSchema(spark, m.schema, files, mergeSchema)
      case Some(firsts) => decorateRowIds(
        readWithSchema(spark, m.schema.map(withRowIdField), files, mergeSchema),
        firsts)
    }
    def coords(df: DataFrame) = df
      .withColumn(DvFileCol, substring_index(col("_metadata.file_path"), "/", -3))
      .withColumn(DvPosCol, col("_metadata.row_index"))
    val eqBatches = loadEqBatches(m)
    if (m.dvs.isEmpty && eqBatches.isEmpty) {
      val scan = readFiles(m.files)
      return if (keepCoords) coords(scan) else scan
    }
    val dvOpt = if (m.dvs.isEmpty) None else Some(readVectors(spark, m.dvs))
    val liveRel = m.files.map(relKey).toSet
    val dirtyRel = referenced(m.dvs, eqBatches)
    val (dirty, clean) = m.files.partition(f => dirtyRel(relKey(f)))
    // One decorated scan for every dirty file; a row in a DV-only file
    // meets the equality anti join too (and vice versa) — no match, only
    // join traffic, and the traffic is bounded by the dirty slice.
    def applyEq(df: DataFrame): DataFrame =
      eqBatches.filter(_.refs.exists(liveRel)).foldLeft(df) { (d, b) =>
        val keys = readEqKeys(spark, b)
        val cond = b.keyCols.map(c => d(c) === keys(s"_graft_eq_$c"))
          .reduce(_ && _) &&
          d(DvFileCol).isInCollection(b.refs.filter(liveRel))
        d.join(keys, cond, "left_anti")
      }
    val parts = Seq(
      if (clean.isEmpty) None
      else Some {
        val scan = readFiles(clean)
        if (keepCoords) coords(scan) else scan
      },
      if (dirty.isEmpty) None
      else Some {
        val decorated = coords(readFiles(dirty))
        val sub0 = dvOpt.map(dv =>
          decorated.join(dv, Seq(DvFileCol, DvPosCol), "left_anti"))
          .getOrElse(decorated)
        val sub = applyEq(sub0)
        if (keepCoords) sub else sub.drop(DvFileCol, DvPosCol)
      }).flatten
    // Under mergeSchema the clean and dirty slices may expose different
    // column sets (each merges only its own footers) — fill the gaps with
    // NULLs, which is exactly the additive-evolution contract.
    parts.reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
  }

  /** Small-files compaction as a snapshot: rewrite the latest version's
    * data into `numFiles` files and publish it as a fresh file list. Old
    * snapshots keep reading their own files; [[expire]] reclaims the
    * small ones once no kept version references them.
    */
  /** [[read]] applies deletion vectors, so compaction also MATERIALIZES
    * them: the rewritten files carry no deleted rows and the new manifest
    * carries no dv lines — compact is the DV table's maintenance op.
    */
  /** `layout` overrides the default `repartition(numFiles)` with a custom
    * physical arrangement of the rewritten rows (e.g. Z-order) — the
    * conflict protocol is unchanged, so every layout strategy shares it.
    *
    * `onlySmallerThan` selects BINPACK compaction: only live files below
    * the byte threshold rewrite (their row-level deletes applied); every
    * larger file carries by path, untouched, along with the table's
    * DVs/equality deletes (still needed by the carried files; entries
    * referencing only rewritten files become inert). Maintenance cost is
    * proportional to the small-file debt, never the table — the shape a
    * streaming-ingested 100 TB table needs nightly, where the full
    * rewrite is a quarterly event. A full compact (None) also
    * MATERIALIZES all row-level deletes away.
    *
    * `onlyMatching` selects PREDICATE-SCOPED rewrite (Iceberg's
    * `rewrite_data_files(where)`): only files whose commit-time footer
    * stats might hold a matching row rewrite (row-level deletes applied),
    * everything else carries by path — re-cluster or re-sort a hot key
    * region for the cost of that region. Mutually exclusive with
    * `onlySmallerThan`.
    */
  def compact(spark: SparkSession, base: String, numFiles: Int,
              sortCols: Seq[String] = Nil,
              layout: Option[DataFrame => DataFrame] = None,
              onlySmallerThan: Option[Long] = None,
              onlyMatching: Option[org.apache.spark.sql.Column] = None): Long = {
    require(onlySmallerThan.isEmpty || onlyMatching.isEmpty,
      "choose ONE selector: onlySmallerThan (binpack) or onlyMatching " +
        "(predicate-scoped rewrite)")
    val v0 = versions(base).max
    val m0 = readManifest(base, v0)
    val fs = fsFor(base)
    val (smalls, bigs) = (onlySmallerThan, onlyMatching) match {
      case (None, None) => (m0.files, Seq.empty[String])
      case (Some(t), _) => m0.files.partition { f =>
        // a stat failure counts as small: the rewrite READS the file, so
        // a genuinely missing file fails loudly instead of silently
        // surviving as "big"
        (try fs.getFileStatus(new Path(f)).getLen
         catch { case _: Exception => 0L }) < t
      }
      case (_, Some(cond)) =>
        // Predicate-scoped rewrite (Iceberg's rewrite_data_files(where)):
        // only files whose footer stats say they MIGHT hold a matching
        // row rewrite — re-cluster a hot key region for the cost of that
        // region, never the table. Selection is file-granular, so rows
        // of a selected file that do NOT match the predicate rewrite
        // along with it (compaction moves bytes, never changes rows).
        val schema = pinnedSchema(base, Pin.AsOf(v0))
          .getOrElse(scanPinned(spark, base, Pin.AsOf(v0)).schema)
        val filters = org.apache.spark.sql.graft.Bridge
          .pushableFilters(spark, schema, cond)
        require(filters.nonEmpty,
          s"onlyMatching predicate '$cond' has no stats-translatable " +
            "conjunct - it would select every file; run a full compact " +
            "instead")
        val kept = FileStats.prune(hadoopConf, m0.files, filters, eraIds(m0)).toSet
        m0.files.partition(kept)
    }
    if (smalls.isEmpty) return v0
    val files0 = smalls.toSet
    // Lineage tables rewrite WITH `_row_id`: position-derived ids die
    // with the old positions, so the rewrite materializes them as a
    // physical column (writeBatch sees the column and skips metadata
    // assignment) — ids survive compaction byte-identically.
    val full = scanWithDvs(spark, m0.copy(files = smalls), keepCoords = false,
      rowIds = if (rowLineageEnabled(base)) Some(lineageFirsts(base)) else None)
    val compacted = layout.map(_(full)).getOrElse(full.repartition(numFiles))
    val newFiles = writeBatch(compacted, base, sortCols)
    val binpack = onlySmallerThan.isDefined || onlyMatching.isDefined
    // Conflict handling inside the claim loop: files appended concurrently
    // (parent files not in our compacted input) carry forward untouched; a
    // concurrent DELETE of a file we already rewrote would resurrect its
    // rows, so that case aborts loudly instead of losing the delete.
    publish(base, newFiles, Nil, mode = "overwrite", parent => {
      if (parent == v0)
        (bigs, if (binpack) m0.dvs else Nil, if (binpack) m0.eqs else Nil)
      else {
        val p = readManifest(base, parent)
        val removed = files0 -- p.files.toSet
        if (removed.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"compact of v$v0 conflicts with a concurrent delete of " +
              s"${removed.size} file(s); retry compaction from the new version")
        // A DV or equality delete published after our rewrite started
        // references pre-compact state — our output already lacks its
        // rows-to-hide, so carrying it is wrong and dropping it loses the
        // delete. Abort loudly.
        if (p.dvs.toSet != m0.dvs.toSet || p.eqs.toSet != m0.eqs.toSet)
          throw new java.util.ConcurrentModificationException(
            s"compact of v$v0 conflicts with a concurrent row-level " +
              "delete; retry compaction from the new version")
        (p.files.filterNot(files0),
          if (binpack) p.dvs else Nil, if (binpack) p.eqs else Nil)
      }
    })
  }
}
