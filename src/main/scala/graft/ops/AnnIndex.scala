package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.Staging
import graft.ops.VecOps.Vec

/** Persisted, incrementally-maintained ANN index over an embedding table —
  * the serving-path companion to [[Sim]]'s self-contained (train-per-call)
  * IVF/PQ tiers.
  *
  * The reference has no vector surface at all; this is the FAISS
  * IVF/IVF-PQ discipline re-expressed as a TABLE-SIDECAR, the same shape
  * [[graft.ingest.BloomIndex]] proved for membership skipping: the model
  * (coarse centroids + per-subspace PQ codebooks — a few KB) and the
  * per-vector assignments (cell + 4-bit-code vector + the vector itself,
  * the inverted-list payload) live under `<base>/_ann_<col>/`, hidden from
  * data scans by the underscore prefix, consulted by the knn paths instead
  * of re-deriving cells/codes on every query.
  *
  * Layout:
  * {{{
  *   <base>/_ann_<col>/
  *     model/            one small parquet: centroid + codebook rows
  *     assign/cell=N/    per-vector rows, DIRECTORY-partitioned by cell
  *     _ANN_READY        completion marker, written last
  * }}}
  *
  * Scale design:
  *  - BUILD is one scan: the model trains on a FIXED-size deterministic
  *    sample (collect is sample-sized, never corpus-sized), broadcasts,
  *    and every vector maps to (cell, codes) map-side; the write is
  *    cell-partitioned so probing prunes directories.
  *  - PROBE cost ∝ probed cells' payload (IVF) or the 4-byte code column
  *    (PQ/ADC with column pruning) — never the full-dim corpus.
  *  - UPDATE is proportional to the APPENDED data: only files the assign
  *    table doesn't cover are encoded (with the PERSISTED model — cells
  *    and codes stay comparable across appends), existing rows carry
  *    verbatim, and the combined table swaps in by rename. Falls back to
  *    a full build when no index exists. Same crash posture as
  *    BloomIndex.update: the index is a REBUILDABLE cache — a torn swap
  *    costs one loud rebuild, never a wrong answer (exact re-rank and
  *    recall gates sit above).
  *  - Model quality vs data drift: centroids/codebooks deliberately do
  *    NOT retrain on append (retraining would invalidate every stored
  *    code); a drifted corpus rebuilds explicitly via [[build]].
  */
object AnnIndex {

  /** Driver-side model: IVF centroids + PQ codebooks (and their squared
    * norms, for the ADC approximate-norm denominator).
    */
  final case class Model(cents: Array[Vec],
                         books: Array[Array[Array[Double]]],
                         norms2: Array[Array[Double]]) {
    def subDim: Int = books(0)(0).length
  }

  val Marker = "_ANN_READY"

  def sidecar(base: String, column: String): String = s"$base/_ann_$column"

  private def fsOf(s: SparkSession, p: String) =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  // ---- shared model math (the same formulas Sim's in-scan tiers use,
  // factored here so index-build and train-per-call paths cannot drift)

  /** Nearest coarse centroid (max cosine; ties → smaller cell id — the
    * iteration order makes the strict `>` keep the earliest when `cents`
    * is id-sorted, matching Sim.knnIvf's explicit tie-break).
    */
  def nearestCell(emb: Array[Float], cents: Array[Vec]): Long = {
    val n = VecOps.normD(emb)
    var bestCell = -1L
    var bestCos = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val cc = VecOps.dotD(emb, c.emb) / (n * c.norm)
      if (cc > bestCos || (cc == bestCos && c.id < bestCell)) {
        bestCos = cc; bestCell = c.id
      }
      i += 1
    }
    bestCell
  }

  /** Per-subspace nearest codebook entry (L2 over the subvector; ties →
    * lower code, by strict `<` over ascending codes).
    */
  def pqEncode(emb: Array[Float], books: Array[Array[Array[Double]]]): Array[Int] = {
    val m = books.length
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val sub = books(s)(0).length
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < books(s).length) {
        var dist = 0.0; var i = 0
        while (i < sub) {
          val dx = emb(s * sub + i) - books(s)(c)(i)
          dist += dx * dx; i += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      codes(s) = best; s += 1
    }
    codes
  }

  /** Per-subspace Lloyd's over a deterministic id-sorted sample —
    * identical to the training Sim.knnPq ran inline (first `codes` sample
    * rows as init, `iters` refinements, empty cells keep their centroid).
    */
  def pqTrain(train: Array[Vec], subspaces: Int, codes: Int, iters: Int)
      : (Array[Array[Array[Double]]], Array[Array[Double]]) = {
    require(train.length >= codes, s"need >= $codes training vectors")
    val dim = train.head.emb.length
    val sub = dim / subspaces
    def lloyd(pts: Array[Array[Double]]): Array[Array[Double]] = {
      var cents = pts.take(codes).map(_.clone)
      for (_ <- 1 to iters) {
        val sums = Array.fill(codes)(new Array[Double](sub))
        val cnts = new Array[Int](codes)
        pts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < codes) {
            var dist = 0.0; var i = 0
            while (i < sub) { val dx = p(i) - cents(c)(i); dist += dx * dx; i += 1 }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          var i = 0
          while (i < sub) { sums(best)(i) += p(i); i += 1 }
          cnts(best) += 1
        }
        cents = Array.tabulate(codes)(c =>
          if (cnts(c) == 0) cents(c) else sums(c).map(_ / cnts(c)))
      }
      cents
    }
    val books: Array[Array[Array[Double]]] = Array.tabulate(subspaces) { m =>
      lloyd(train.map(_.emb.slice(m * sub, (m + 1) * sub).map(_.toDouble)))
    }
    (books, books.map(_.map(c => c.map(x => x * x).sum)))
  }

  /** Train a model over `df`'s lowest-id vectors: centroids = the first
    * [[Sim.NumCells]] ids (the deterministic one-shot quantizer Sim's
    * in-scan IVF uses — swap in [[Sim.kmeans]] iterates for drifted
    * corpora, same model shape), PQ codebooks = Lloyd's over the first
    * [[Sim.PqTrain]] ids. Both collects are FIXED-size regardless of
    * corpus size.
    */
  def trainModel(s: SparkSession, df: DataFrame,
                 idCol: String, embCol: String): Model = {
    val cents = VecOps.vectors(s,
      df.orderBy(col(idCol)).limit(Sim.NumCells), idCol, embCol).sortBy(_.id)
    require(cents.nonEmpty, "cannot train an ANN model over an empty table")
    val train = VecOps.vectors(s,
      df.orderBy(col(idCol)).limit(Sim.PqTrain), idCol, embCol).sortBy(_.id)
    val (books, norms2) = pqTrain(train, Sim.PqSubspaces, Sim.PqCodes, Sim.PqIters)
    Model(cents, books, norms2)
  }

  /** Columns every assign row carries. `file` + `pos` are the row's
    * PHYSICAL coordinate in its source data file — the grain deletion
    * vectors address, so live-table probes can subtract exactly the
    * hidden copies (an upsert hides the OLD copy of a key while the NEW
    * one serves; an id-level subtraction would kill both).
    */
  private val AssignCols =
    Seq("file", "vec_id", "cell", "codes", "embedding", "pos")

  /** Encode `df` (which must expose `file`, id, emb columns) into assign
    * rows with the broadcast model: one map-side pass, no shuffle.
    */
  private def assignRows(s: SparkSession, df: DataFrame,
                         idCol: String, embCol: String, model: Model): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast((model.cents, model.books))
    df.select(input_file_name().as("file"), col(idCol), col(embCol),
        col("_metadata.row_index").as("pos"))
      .as[(String, Long, Array[Float], Long)]
      .map { case (f, id, emb, pos) =>
        val (cents, books) = bc.value
        (f, id, nearestCell(emb, cents), pqEncode(emb, books), emb, pos)
      }
      .toDF(AssignCols: _*)
      // one output file per cell (not cells × input-partitions): the
      // inverted-list read pays per-file open cost, and a probe wants few
      // dense lists, not a spray of near-empty ones
      .repartition(col("cell"))
  }

  /** Full build under `dest` (default: the in-layout sidecar path), no
    * marker/publish — callers stage-and-rename ([[ensure]]) or build
    * in-place during fixture staging ([[buildAt]]).
    */
  private def writeIndex(s: SparkSession, base: String, idCol: String,
                         embCol: String, dest: String): Unit =
    writeIndexOver(s, s.read.parquet(base), idCol, embCol, dest)

  private def writeIndexOver(s: SparkSession, df: DataFrame, idCol: String,
                             embCol: String, dest: String): Unit = {
    val model = trainModel(s, df, idCol, embCol)
    val modelRows: Seq[(String, Int, Long, Array[Double])] =
      model.cents.toSeq.map(c => ("centroid", -1, c.id, c.emb.map(_.toDouble))) ++
        model.books.toSeq.zipWithIndex.flatMap { case (bs, m) =>
          bs.toSeq.zipWithIndex.map { case (cb, c) => ("codebook", m, c.toLong, cb) }
        }
    import s.implicits._
    modelRows.toDF("kind", "subspace", "id", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dest/model")
    assignRows(s, df, idCol, embCol, model)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dest/assign")
  }

  /** Build the complete sidecar at its canonical path and mark it ready —
    * the fixture-staging entry point (the tree is not yet visible to
    * concurrent readers, so in-place is safe there).
    */
  def buildAt(s: SparkSession, base: String, idCol: String = "vec_id",
              embCol: String = "embedding"): String = {
    val sc = sidecar(base, embCol)
    writeIndex(s, base, idCol, embCol, sc)
    fsOf(s, sc).create(new Path(sc, Marker), true).close()
    sc
  }

  /** The ready sidecar path, rebuilt via [[graft.ingest.Staging.publish]]
    * if missing or partial.
    */
  def ensure(s: SparkSession, base: String, idCol: String = "vec_id",
             embCol: String = "embedding"): String = {
    val sc = sidecar(base, embCol)
    val fs = fsOf(s, sc)
    if (!fs.exists(new Path(sc, Marker))) {
      System.err.println(s"AnnIndex: sidecar $sc absent or partial - rebuilding")
      Staging.publish(s, sc, Marker)(writeIndex(s, base, idCol, embCol, _))
    }
    sc
  }

  /** Explicit part-file listing under a (possibly cell-partitioned)
    * sidecar subdir — concrete leaf files, never the hidden dir as a read
    * root and never a glob (both WARN-spam planning; see BloomIndex's
    * readSidecar note). `cells` prunes the listing to the probed cell
    * DIRECTORIES — the IVF inverted-list read never even lists the rest.
    */
  private def partFiles(s: SparkSession, dir: String,
                        cells: Option[Set[Long]]): Seq[String] = {
    val fs = fsOf(s, dir)
    val root = new Path(dir)
    val statuses = fs.listStatus(root)
    val leafDirs = statuses.filter(_.isDirectory).map(_.getPath)
      .filter(p => cells match {
        case Some(keep) if p.getName.startsWith("cell=") =>
          keep.contains(p.getName.stripPrefix("cell=").toLong)
        case _ => true
      })
    val direct = statuses.filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString)
    val nested = leafDirs.flatMap(d => fs.listStatus(d)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString))
    (direct ++ nested).sorted.toIndexedSeq
  }

  // Driver-side model memo: the model is immutable per build (update
  // never retrains), so a serving process loads it once per sidecar
  // generation instead of paying a Spark job per query. Keyed by the
  // READY marker's mtime — a rebuild (new marker) invalidates.
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Model]()

  /** Load the (tiny) model driver-side, memoized per sidecar generation. */
  def loadModel(s: SparkSession, sc: String): Model = {
    val mtime =
      try fsOf(s, sc).getFileStatus(new Path(sc, Marker)).getModificationTime
      catch { case _: java.io.IOException => -1L }
    modelCache.computeIfAbsent((sc, mtime), _ => loadModelUncached(s, sc))
  }

  private def loadModelUncached(s: SparkSession, sc: String): Model = {
    val rows = s.read.parquet(partFiles(s, s"$sc/model", None): _*).collect()
    val cents = rows.filter(_.getString(0) == "centroid")
      .map(r => Vec(r.getLong(2), r.getSeq[Double](3).map(_.toFloat).toArray, 0.0))
      .map(v => v.copy(norm = VecOps.normD(v.emb)))
      .sortBy(_.id)
    val bookRows = rows.filter(_.getString(0) == "codebook")
    val subspaces = bookRows.map(_.getInt(1)).max + 1
    val books = Array.tabulate(subspaces) { m =>
      bookRows.filter(_.getInt(1) == m).sortBy(_.getLong(2))
        .map(_.getSeq[Double](3).toArray)
    }
    Model(cents, books, books.map(_.map(c => c.map(x => x * x).sum)))
  }

  /** The assign table, optionally pruned to `cells` (directory-level
    * pruning — only probed inverted lists are listed or read). Column
    * pruning stays with the caller: a PQ/ADC scan selecting only
    * (vec_id, codes) reads 4-byte codes, not 256-byte vectors.
    */
  def assignments(s: SparkSession, sc: String,
                  cells: Option[Set[Long]] = None): DataFrame = {
    val files = partFiles(s, s"$sc/assign", cells)
    require(files.nonEmpty || cells.isDefined,
      s"ANN sidecar $sc has no assign part files")
    if (files.isEmpty) { // every probed cell empty: schema-correct empty
      s.read.option("basePath", s"$sc/assign")
        .parquet(partFiles(s, s"$sc/assign", None): _*).limit(0)
    } else
      s.read.option("basePath", s"$sc/assign").parquet(files: _*)
  }

  /** Incremental maintenance: encode ONLY base files the assign table
    * doesn't cover (an append's new files) with the PERSISTED model,
    * carry every existing row verbatim, swap by rename. Returns the
    * number of freshly indexed files (0 = already covered). Work ∝
    * appended data — a daily append re-encodes the day, not the corpus.
    */
  def update(s: SparkSession, base: String, idCol: String = "vec_id",
             embCol: String = "embedding"): Int = {
    val sc = sidecar(base, embCol)
    val fs = fsOf(s, sc)
    if (!fs.exists(new Path(sc, Marker))) {
      ensure(s, base, idCol, embCol)
      return s.read.parquet(base).inputFiles.length
    }
    def pathOf(uri: String) = new java.net.URI(uri).getPath
    val existing = assignments(s, sc)
    if (staleLayout(s, sc, existing)) {
      Staging.publish(s, sc, Marker)(writeIndex(s, base, idCol, embCol, _))
      return s.read.parquet(base).inputFiles.length
    }
    val covered = existing.select("file").distinct()
      .collect().map(r => pathOf(r.getString(0))).toSet
    val fresh = s.read.parquet(base).inputFiles.filterNot(f => covered(pathOf(f)))
    if (fresh.isEmpty) return 0
    val model = loadModel(s, sc)
    val combined = existing.select(AssignCols.map(col): _*)
      .unionByName(assignRows(s,
        s.read.parquet(fresh.toIndexedSeq: _*), idCol, embCol, model))
    swapAssign(s, sc, combined)
    fresh.length
  }

  /** A sidecar written before the assign layout carried row positions
    * cannot serve coordinate-grain subtraction — rebuild it (loud, one
    * rebuild, same crash posture as a torn sidecar). A stale sidecar
    * loses its marker here, so the rebuild's publish evicts it.
    */
  private def staleLayout(s: SparkSession, sc: String, assign: DataFrame): Boolean = {
    val stale = !assign.columns.contains("pos")
    if (stale) {
      System.err.println(
        "AnnIndex: assign table predates the coordinate-carrying layout - rebuilding")
      fsOf(s, sc).delete(new Path(sc, Marker), false)
    }
    stale
  }

  /** Replace the assign table with `combined` atomically-enough for a
    * rebuildable cache. Stage the union FIRST (existing rows materialize
    * before their directory moves), then drop the READY marker, swap
    * with two renames, and restore the marker: a reader landing inside
    * the swap sees no marker and rebuilds (loud, correct); a crash
    * inside it leaves no marker, so the next ensure()'s full-rebuild
    * fallback repairs — the index is a rebuildable cache, never a wrong
    * answer.
    */
  private def swapAssign(s: SparkSession, sc: String, combined: DataFrame): Unit = {
    val fs = fsOf(s, sc)
    val pid = java.lang.ProcessHandle.current().pid()
    val assignPath = new Path(s"$sc/assign")
    val tmp = new Path(s"$sc/.assign-new-$pid")
    combined.repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(tmp.toString)
    val old = new Path(s"$sc/.assign-old-$pid")
    fs.delete(new Path(sc, Marker), false)
    if (!fs.rename(assignPath, old))
      throw new java.io.IOException(s"failed to retire ANN assign dir $assignPath")
    if (!fs.rename(tmp, assignPath)) {
      fs.rename(old, assignPath)
      fs.create(new Path(sc, Marker), true).close()
      throw new java.io.IOException(s"failed to publish updated ANN assign dir")
    }
    fs.delete(old, true)
    fs.create(new Path(sc, Marker), true).close()
  }

  /** LIVE-TABLE maintenance: bind the index to a [[graft.ingest.Snapshots]]
    * table's CURRENT live file set instead of an immutable directory.
    * Three deltas reconcile in one pass, each proportional to the files
    * it touches, never the corpus:
    *
    *  - appended/rewritten files (compaction outputs, upsert appends) the
    *    assign table doesn't cover encode with the PERSISTED model;
    *  - dead files' assign rows (inputs a compaction/overwrite retired)
    *    DROP — serving them would return rows of files no snapshot read
    *    would, including pre-compaction copies of since-deleted rows;
    *  - rows DVs/equality deletes hide inside still-live files stay
    *    indexed (a delete is a metadata event; rewriting inverted lists
    *    per delete would defeat merge-on-read) and are subtracted at
    *    PROBE time via [[graft.ingest.Snapshots.hiddenRows]] — the anti
    *    join inside [[Sim.knnIvfLive]] / [[Sim.knnPqLive]], the probe
    *    paths that pair with this method.
    *
    * Returns (freshly indexed files, dead files dropped). (0, 0) = the
    * index already covers the current version. Missing/partial sidecar =
    * full build over the live files (raw rows — the probe-side
    * subtraction owns delete visibility).
    */
  def updateTable(s: SparkSession, table: String, idCol: String = "vec_id",
                  embCol: String = "embedding"): (Int, Int) = {
    import graft.ingest.Snapshots
    val live = Snapshots.liveFiles(table, Snapshots.versions(table).max)
    require(live.nonEmpty, s"cannot index an empty table $table")
    val sc = sidecar(table, embCol)
    val fs = fsOf(s, sc)
    def pathOf(uri: String) = new java.net.URI(uri).getPath
    val livePaths = live.map(pathOf).toSet
    def rebuild(): (Int, Int) = {
      Staging.publish(s, sc, Marker)(
        writeIndexOver(s, s.read.parquet(live: _*), idCol, embCol, _))
      (live.length, 0)
    }
    if (!fs.exists(new Path(sc, Marker))) return rebuild()
    val existing = assignments(s, sc)
    if (staleLayout(s, sc, existing)) return rebuild()
    val coveredUris = existing.select("file").distinct()
      .collect().map(_.getString(0))
    val covered = coveredUris.map(pathOf).toSet
    val fresh = live.filterNot(f => covered(pathOf(f)))
    val deadCount = coveredUris.count(u => !livePaths(pathOf(u)))
    if (fresh.isEmpty && deadCount == 0) return (0, 0)
    val model = loadModel(s, sc)
    val keptUris = coveredUris.filter(u => livePaths(pathOf(u))).toSeq
    val keptRows = existing.select(AssignCols.map(col): _*)
    val kept =
      if (keptUris.isEmpty) keptRows.filter(lit(false))
      else keptRows.filter(col("file").isInCollection(keptUris))
    val combined =
      if (fresh.isEmpty) kept
      else kept.unionByName(assignRows(s,
        s.read.parquet(fresh.toIndexedSeq: _*), idCol, embCol, model))
    swapAssign(s, sc, combined)
    (fresh.length, deadCount)
  }
}
