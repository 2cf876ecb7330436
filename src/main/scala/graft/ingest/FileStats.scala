package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** Per-file column min/max/null-count statistics, collected ONCE at commit
  * time from the parquet footers of a just-written batch and stored in a
  * KB-scale sidecar beside the data — so the READ path can drop files that
  * cannot contain a matching row before Spark ever sees the file list.
  *
  * This is Iceberg's scan-planning move (its manifests carry
  * lower_bounds/upper_bounds per data file for exactly this purpose),
  * re-expressed on the batch-dir layout: parquet already row-group-prunes
  * with the same stats at EXECUTOR scan time, but at 100 TB the win is
  * earlier — a table of 10⁵ files whose sort column clusters the data
  * prunes to a handful of files at PLANNING time, so the scheduler never
  * launches 10⁵ no-op tasks and the scan's task count tracks the
  * selectivity, not the table size. (The reference encodes the same idea
  * at block grain: its filename key range IS a one-column zone map,
  * /root/reference/block.go:29-47.)
  *
  * Stats are collected in the write job itself: the NDV sketches and
  * histogram counts per file as its rows are written ([[FileSketch]]
  * inside [[WriteStats]]), min/max/null counts from the footers the job
  * just wrote. A commit's data write is therefore ONE Spark job (plus one
  * per CHECK constraint), with no opt-out because nothing is re-read; the
  * sidecar is one small file per batch dir, so commit cost grows with
  * the batch's file count, never the table's. Pruning is CONSERVATIVE: a
  * file is dropped only when its stats PROVE no row can match; missing
  * sidecars (pre-stats trees), missing columns (post-rename files record
  * the old name), and filter shapes the evaluator doesn't model all keep
  * the file. Correctness never depends on a stat — the full predicate
  * still runs on every surviving row.
  */
object FileStats {

  /** Hidden (dot-prefixed) so Spark's recursive listings never take it for
    * data; our readers pass explicit file lists anyway.
    */
  val SidecarName = ".graft_stats.tsv"

  /** One column's stats in its comparison domain: `long` (integers),
    * `date` (epoch days), `ts` (epoch micros), `double`, `string`.
    * `min`/`max` are None when every value in the file is NULL.
    */
  /** `id`: the column's parquet field id from the file footer (round 10).
    * Stats are keyed by WRITE-TIME name; after a rename chain that reuses
    * a name (`rename a→tmp; rename b→a`) the same name can denote
    * DIFFERENT physical columns across file eras — the id is what lets
    * exact metadata aggregates and pruning tell them apart. None for
    * id-less (legacy) files and pre-round-10 sidecars.
    */
  case class ColStat(t: String, min: Option[String], max: Option[String],
                     nulls: Long, id: Option[Long] = None)
  /** `ndv`: per-column Datasketches HLL sketch bytes (approximate distinct
    * count of the file's non-null values). MERGEABLE — table-level NDV is
    * the union of the live files' sketches, manifest-read cost only —
    * which is what lets scan statistics report distinct counts to
    * Catalyst's CBO for join/aggregate cardinality estimation (Iceberg's
    * manifests carry the same idea as theta sketches in its stats files).
    * Absent for files no graft write job produced (until `collect_stats`
    * backfills them); every consumer treats absence as "unknown".
    */
  /** `hist`: per-column signed-log2 bucket counts of the file's non-null
    * values (integer comparison domains only: ints, dates as epoch days,
    * micros timestamps). Bucket 0 holds exact zeros; bucket k > 0 holds
    * [2^(k-1), 2^k); bucket k < 0 mirrors for negatives. The boundaries
    * are FIXED (value-independent), so table-level histograms merge by
    * plain per-bucket addition over the live files — the property an
    * equi-height sketch lacks. The connector converts the merged counts
    * into Catalyst's equi-height form at report time; CBO range
    * selectivity then sees the real value distribution instead of
    * assuming uniformity over [min, max].
    */
  case class FileStat(rows: Long, cols: Map[String, ColStat],
                      ndv: Map[String, Array[Byte]] = Map.empty,
                      hist: Map[String, Map[Int, Long]] = Map.empty)

  // -------------------------------------------------------------------
  // Footer stats and the sidecar (commit-time, driver-side)
  // -------------------------------------------------------------------

  private def b64(s: String) = Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
  private def unb64(s: String) = new String(Base64.getDecoder.decode(s), UTF_8)

  /** Read one parquet footer into per-column stats. Columns whose physical
    * or logical type the comparison domains don't model (INT96, decimals,
    * nested paths, binary non-UTF8) are skipped — absent stats only cost
    * pruning power. Returns None when the footer can't be read at all.
    */
  private def collectOne(conf: Configuration, file: Path): Option[FileStat] =
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        import scala.jdk.CollectionConverters._
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        // Top-level parquet field ids (null for id-less legacy files) —
        // recorded beside each column's stats so name-reuse across
        // rename eras can't alias different physical columns.
        val idsByName: Map[String, Long] =
          reader.getFooter.getFileMetaData.getSchema.getFields.asScala
            .flatMap(f => Option(f.getId).map(id => f.getName -> id.intValue().toLong))
            .toMap
        // (domain, min, max, nulls) folded across row groups per column;
        // a single chunk without stats poisons its column (conservative).
        val acc = scala.collection.mutable.Map[String, Option[(String, Option[String], Option[String], Long)]]()
        for (b <- blocks; c <- b.getColumns.asScala) {
          if (c.getPath.size == 1) {
            val name = c.getPath.iterator.next()
            val pt = c.getPrimitiveType
            val domain: Option[String] = pt.getPrimitiveTypeName match {
              case PrimitiveTypeName.INT32 =>
                pt.getLogicalTypeAnnotation match {
                  case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some("date")
                  case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
                  case _ => Some("long")
                }
              case PrimitiveTypeName.INT64 =>
                pt.getLogicalTypeAnnotation match {
                  case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                    if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS => Some("ts")
                  case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => None
                  case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
                  case _ => Some("long")
                }
              case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => Some("double")
              case PrimitiveTypeName.BINARY =>
                pt.getLogicalTypeAnnotation match {
                  case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => Some("string")
                  case _ => None
                }
              case _ => None
            }
            domain match {
              case None => acc(name) = None
              case Some(d) =>
                val st = c.getStatistics
                if (st == null || st.isEmpty) acc(name) = None
                else if (!acc.contains(name) || acc(name).isDefined) {
                  val (mn, mx) =
                    if (!st.hasNonNullValue) (None, None)
                    else {
                      def render(v: Any): String = v match {
                        case b: Binary => b.toStringUsingUTF8
                        case f: java.lang.Float => java.lang.Double.toString(f.doubleValue())
                        case other => other.toString
                      }
                      (Some(render(st.genericGetMin)), Some(render(st.genericGetMax)))
                    }
                  val merged = acc.get(name).flatten match {
                    case None => (d, mn, mx, st.getNumNulls)
                    case Some((d0, mn0, mx0, n0)) =>
                      (d0, minOf(d0, mn0, mn), maxOf(d0, mx0, mx), n0 + st.getNumNulls)
                  }
                  acc(name) = Some(merged)
                }
            }
          }
        }
        Some(FileStat(rows, acc.toMap.collect {
          case (n, Some((d, mn, mx, nulls))) =>
            n -> ColStat(d, mn, mx, nulls, idsByName.get(n))
        }))
      } finally reader.close()
    } catch { case _: Exception => None }

  private def cmp(domain: String, a: String, b: String): Int = domain match {
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case "string" => a.compareTo(b)
    case _        => java.lang.Long.compare(a.toLong, b.toLong)
  }

  private def minOf(d: String, a: Option[String], b: Option[String]): Option[String] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (cmp(d, x, y) <= 0) x else y)
      case _ => a.orElse(b)
    }

  private def maxOf(d: String, a: Option[String], b: Option[String]): Option[String] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (cmp(d, x, y) >= 0) x else y)
      case _ => a.orElse(b)
    }

  /** Collect stats for `files` (absolute paths, same directory) and write
    * the sidecar into `dir`: min/max/null counts from the footers, plus
    * the `n`/`h` lines of `sketches` (file name → the [[FileSketch]]
    * result built while the file was written, or by [[sketchFiles]]).
    * Failures are swallowed file-by-file: a stats sidecar is an
    * optimization, never a correctness dependency, so a commit must not
    * fail because a footer read did.
    */
  def writeSidecar(conf: Configuration, dir: Path, files: Seq[String],
                   sketches: Map[String, FileStat] = Map.empty): Unit =
    try {
      val stats = files.flatMap { f =>
        val p = new Path(f)
        collectOne(conf, p).map(p.getName -> _)
      }
      if (stats.nonEmpty) {
        val sb = new StringBuilder
        for ((name, fs) <- stats.sortBy(_._1)) {
          val sk = sketches.get(name)
          sb.append(s"f\t${b64(name)}\t${fs.rows}\n")
          // trailing field-id column (round 10) — pre-round-10 readers
          // split on exactly 7 fields and skip 8-field lines, degrading
          // to "no stats" (conservative) rather than misreading
          for ((cn, c) <- fs.cols.toSeq.sortBy(_._1))
            sb.append(s"c\t${b64(name)}\t${b64(cn)}\t${c.t}\t" +
              s"${c.min.map(b64).getOrElse("-")}\t${c.max.map(b64).getOrElse("-")}\t${c.nulls}\t" +
              s"${c.id.map(_.toString).getOrElse("-")}\n")
          // `n` lines are ignored by pre-round-9 readers (unknown tags
          // skip), so the sidecar format stays forward/backward compatible
          for ((cn, bytes) <- sk.map(_.ndv).getOrElse(Map.empty).toSeq.sortBy(_._1))
            sb.append(s"n\t${b64(name)}\t${b64(cn)}\t" +
              Base64.getEncoder.encodeToString(bytes) + "\n")
          // `h` lines (round 10): signed-log2 bucket counts, same
          // unknown-tag forward compatibility as `n`
          for ((cn, bs) <- sk.map(_.hist).getOrElse(Map.empty).toSeq.sortBy(_._1))
            sb.append(s"h\t${b64(name)}\t${b64(cn)}\t" +
              bs.toSeq.sorted.map { case (b, n) => s"$b:$n" }.mkString(",") + "\n")
        }
        val fs = dir.getFileSystem(conf)
        val out = fs.create(new Path(dir, SidecarName), true)
        try out.write(sb.toString.getBytes(UTF_8)) finally out.close()
      }
    } catch { case _: Exception => () }

  // -------------------------------------------------------------------
  // Sketches (per file, while its rows stream past)
  // -------------------------------------------------------------------

  /** Spark's `hll_sketch_agg` defaults: every sketch in every sidecar has
    * the same shape, so any set of them unions cleanly.
    */
  private val LgK = 12
  private val HllType = org.apache.datasketches.hll.TgtHllType.HLL_8

  /** The value of an integer-domain column as a long: ints, dates (epoch
    * days) and timestamps (epoch MICROS — the domain of the `ts` min/max
    * and of Catalyst's histogram-based estimation, so a distinct micro
    * counts as a distinct value). None for every other type. Sidecars
    * written before sketches moved into the write job hold epoch-SECONDS
    * timestamp sketches; merged with micros ones they overestimate (the
    * safe direction for NDV), and they stay until the batch is rewritten.
    */
  private def longReader(dt: DataType): Option[(InternalRow, Int) => Long] = dt match {
    case ByteType                 => Some((r, i) => r.getByte(i).toLong)
    case ShortType                => Some((r, i) => r.getShort(i).toLong)
    case IntegerType | DateType   => Some((r, i) => r.getInt(i).toLong)
    case LongType | TimestampType => Some((r, i) => r.getLong(i))
    case _                        => None
  }

  /** Signed-log2 bucket of `v`: 0 for zero, floor(log2(v))+1 for
    * positives, mirrored for negatives. Computed through a double log2
    * (`StrictMath.log(v) / StrictMath.log(2)`, Spark's `log2`), which
    * every sidecar written so far used — an exact integer log would move
    * values within a few ulps below 2^k one bucket down.
    */
  private[ingest] def log2Bucket(v: Long): Int = {
    def fl(x: Long) = math.floor(StrictMath.log(x.toDouble) / StrictMath.log(2)).toLong
    if (v == 0L) 0 else if (v > 0L) (fl(v) + 1).toInt else (-fl(-v) - 1).toInt
  }

  /** The accumulators behind one file's `n` and `h` lines, fed one row of
    * `schema` at a time. Sketched (`n`): integer domains ([[longReader]])
    * and strings (their UTF-8 bytes) — the exactly-hashable domains;
    * doubles are NaN/-0.0-hostile and absent, matching the min/max
    * stance. Counted (`h`): the integer domains. Every sketched column
    * gets a sketch once the file has a row (an all-NULL column's is
    * empty); a column gets counts only once it has a counted value.
    * Long.MinValue, whose negation overflows, is not counted — counts
    * feed ESTIMATES only.
    */
  final class FileSketch(schema: StructType) {
    import org.apache.datasketches.hll.HllSketch
    private val longs = schema.fields.zipWithIndex.flatMap { case (f, i) =>
      longReader(f.dataType).map(rd => (f.name, i, rd))
    }
    private val strings = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == StringType => (f.name, i)
    }
    private val longSketches = longs.map(_ => new HllSketch(LgK, HllType))
    private val stringSketches = strings.map(_ => new HllSketch(LgK, HllType))
    // bucket b at index b + 64: every long's bucket lies in [-64, 64]
    private val counts = longs.map(_ => new Array[Long](129))
    private var rows = 0L

    def add(row: InternalRow): Unit = {
      rows += 1
      var k = 0
      while (k < longs.length) {
        val i = longs(k)._2
        if (!row.isNullAt(i)) {
          val v = longs(k)._3(row, i)
          longSketches(k).update(v)
          if (v != Long.MinValue) counts(k)(log2Bucket(v) + 64) += 1
        }
        k += 1
      }
      k = 0
      while (k < strings.length) {
        val i = strings(k)._2
        if (!row.isNullAt(i)) stringSketches(k).update(row.getUTF8String(i).getBytes)
        k += 1
      }
    }

    /** Rows seen and the `n`/`h` payloads, as a [[FileStat]] without min/max. */
    def result: FileStat = {
      // Through a Union, as `hll_sketch_agg`'s final merge does: the same
      // rows in the same order give the same bytes and the same estimate.
      def bytes(sk: HllSketch): Array[Byte] = {
        val u = new org.apache.datasketches.hll.Union(LgK)
        u.update(sk)
        u.getResult(HllType).toUpdatableByteArray
      }
      val ndv =
        if (rows == 0L) Map.empty[String, Array[Byte]]
        else (longs.map(_._1).zip(longSketches) ++ strings.map(_._1).zip(stringSketches))
          .map { case (n, sk) => n -> bytes(sk) }.toMap
      val hist = longs.map(_._1).zip(counts).collect {
        case (n, c) if c.exists(_ > 0) =>
          n -> c.indices.collect { case i if c(i) > 0 => (i - 64) -> c(i) }.toMap
      }.toMap
      FileStat(rows, Map.empty, ndv, hist)
    }
  }

  /** Combine two partial results for the same file (a file the backfill
    * read as several splits): sketches union, counts add.
    */
  private def mergeSketches(a: FileStat, b: FileStat): FileStat = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    val ndv = (a.ndv.keySet ++ b.ndv.keySet).map { c =>
      val u = new Union(LgK)
      (a.ndv.get(c) ++ b.ndv.get(c)).foreach(bs => u.update(HllSketch.heapify(bs)))
      c -> u.getResult(HllType).toUpdatableByteArray
    }.toMap
    val hist = (a.hist.keySet ++ b.hist.keySet).map { c =>
      val (x, y) = (a.hist.getOrElse(c, Map.empty), b.hist.getOrElse(c, Map.empty))
      c -> (x.keySet ++ y.keySet).map(k => k -> (x.getOrElse(k, 0L) + y.getOrElse(k, 0L))).toMap
    }.toMap
    FileStat(a.rows + b.rows, Map.empty, ndv, hist)
  }

  /** [[FileSketch]] results for files already on disk (the `collect_stats`
    * backfill): ONE pass over `files` — a schema read, then one job that
    * feeds each row to its file's accumulators. Written batches never
    * come here; they get theirs from the write job ([[WriteStats]]).
    * Returns file name → result; best-effort (empty on failure).
    */
  def sketchFiles(spark: org.apache.spark.sql.SparkSession,
                  files: Seq[String]): Map[String, FileStat] =
    try {
      import org.apache.spark.sql.functions.col
      val df = spark.read.parquet(files: _*)
      val schema = df.schema
      val nameAt = schema.length
      val withName = df.select(
        schema.fieldNames.map(n => col(quote(n))).toSeq :+ col("_metadata.file_name"): _*)
      org.apache.spark.sql.graft.Bridge.toRdd(withName).mapPartitions { rows =>
        val accs = scala.collection.mutable.LinkedHashMap[String, FileSketch]()
        var last: UTF8String = null
        var acc: FileSketch = null
        rows.foreach { r =>
          val name = r.getUTF8String(nameAt)
          if (last == null || last != name) {
            last = name.clone()
            acc = accs.getOrElseUpdate(name.toString, new FileSketch(schema))
          }
          acc.add(r)
        }
        accs.iterator.map { case (n, a) => n -> a.result }
      }.collect().groupMapReduce(_._1)(_._2)(mergeSketches)
    } catch { case _: Exception => Map.empty }

  private def quote(n: String): String = s"`${n.replace("`", "``")}`"

  /** Merged signed-log2 bucket counts → equi-height bins
    * `(lo, hi, ndvEstimate)` with `height` rows per bin — the shape
    * Catalyst's CBO consumes. Boundaries interpolate uniformly INSIDE a
    * log bucket (the only assumption left after the buckets localize the
    * mass), so a 99%-of-rows-near-zero skew yields many narrow bins near
    * zero and one wide tail bin instead of uniformity over [min, max].
    * Per-bin NDV is capped by the bin's integer width — the estimate
    * equality selectivity divides by. None when no counted values.
    */
  def equiHeightBins(counts: Map[Int, Long], maxBins: Int = 32)
      : Option[(Double, Seq[(Double, Double, Long)])] = {
    val positive = counts.filter(_._2 > 0)
    val total = positive.values.sum
    if (total <= 0L) return None
    def rangeOf(b: Int): (Double, Double) =
      if (b == 0) (0.0, 0.0)
      else if (b > 0) (math.pow(2.0, b - 1.0), math.pow(2.0, b.toDouble))
      else (-math.pow(2.0, -b.toDouble), -math.pow(2.0, -b - 1.0))
    val buckets = positive.toSeq
      .map { case (b, c) => val (lo, hi) = rangeOf(b); (lo, hi, c) }
      .sortBy(_._1)
    val nBins = math.max(1, math.min(maxBins.toLong, total).toInt)
    val height = total.toDouble / nBins
    def ndvEst(lo: Double, hi: Double): Long =
      math.max(1L, math.min(height.toLong.max(1L), (hi - lo).toLong.max(1L)))
    val bins = Seq.newBuilder[(Double, Double, Long)]
    var binLo = buckets.head._1
    var acc = 0.0
    var made = 0
    for ((lo, hi, c) <- buckets) {
      var remaining = c.toDouble
      var curLo = math.max(lo, binLo)
      while (made < nBins - 1 && acc + remaining >= height) {
        val need = height - acc
        val cut = curLo + (hi - curLo) * (need / remaining)
        bins += ((binLo, cut, ndvEst(binLo, cut)))
        binLo = cut; curLo = cut; remaining -= need; acc = 0.0; made += 1
      }
      acc += remaining
    }
    val lastHi = buckets.last._2
    bins += ((binLo, lastHi, ndvEst(binLo, lastHi)))
    Some((height, bins.result()))
  }

  /** Union per-file sketches into one table-level estimate (rounded). */
  def mergeNdv(sketches: Seq[Array[Byte]]): Long = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    import org.apache.datasketches.memory.Memory
    val u = new Union(12)
    sketches.foreach(b => u.update(HllSketch.heapify(Memory.wrap(b))))
    math.round(u.getResult.getEstimate)
  }

  /** Parse a batch dir's sidecar; None when absent or unreadable (both
    * mean "no pruning for these files").
    */
  def readSidecar(conf: Configuration, dir: Path): Option[Map[String, FileStat]] =
    try {
      val fs = dir.getFileSystem(conf)
      val p = new Path(dir, SidecarName)
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val text = try new String(org.apache.commons.io.IOUtils.toByteArray(in), UTF_8)
                 finally in.close()
      val rows = scala.collection.mutable.Map[String, Long]()
      val cols = scala.collection.mutable.Map[String, Map[String, ColStat]]().withDefaultValue(Map.empty)
      val ndvs = scala.collection.mutable.Map[String, Map[String, Array[Byte]]]().withDefaultValue(Map.empty)
      val hists = scala.collection.mutable.Map[String, Map[String, Map[Int, Long]]]().withDefaultValue(Map.empty)
      text.split("\n").filter(_.nonEmpty).foreach { line =>
        line.split("\t", -1) match {
          case Array("f", name, r) => rows(unb64(name)) = r.toLong
          case Array("c", name, cn, t, mn, mx, nulls) =>
            val f = unb64(name)
            cols(f) = cols(f) + (unb64(cn) -> ColStat(t,
              if (mn == "-") None else Some(unb64(mn)),
              if (mx == "-") None else Some(unb64(mx)), nulls.toLong))
          case Array("c", name, cn, t, mn, mx, nulls, id) =>
            val f = unb64(name)
            cols(f) = cols(f) + (unb64(cn) -> ColStat(t,
              if (mn == "-") None else Some(unb64(mn)),
              if (mx == "-") None else Some(unb64(mx)), nulls.toLong,
              if (id == "-") None else Some(id.toLong)))
          case Array("n", name, cn, sk) =>
            val f = unb64(name)
            ndvs(f) = ndvs(f) + (unb64(cn) -> Base64.getDecoder.decode(sk))
          case Array("h", name, cn, bs) =>
            val f = unb64(name)
            val m = bs.split(",").filter(_.nonEmpty).map { e =>
              val Array(b, n) = e.split(":", 2)
              b.toInt -> n.toLong
            }.toMap
            hists(f) = hists(f) + (unb64(cn) -> m)
          case _ => ()
        }
      }
      Some(rows.map { case (f, r) =>
        f -> FileStat(r, cols(f), ndvs(f), hists(f))
      }.toMap)
    } catch { case _: Exception => None }

  // -------------------------------------------------------------------
  // Pruning (plan-time, driver-side, manifest file list in, survivors out)
  // -------------------------------------------------------------------

  /** Convert a filter's comparison value into a stat domain's canonical
    * string; None = not convertible → that comparison can't prune.
    */
  private def toDomain(t: String, v: Any): Option[String] = (t, v) match {
    case (_, null) => None
    case ("long", x: Byte)  => Some(x.toLong.toString)
    case ("long", x: Short) => Some(x.toLong.toString)
    case ("long", x: Int)   => Some(x.toLong.toString)
    case ("long", x: Long)  => Some(x.toString)
    case ("double", x: Float)  => Some(java.lang.Double.toString(x.toDouble))
    case ("double", x: Double) => Some(java.lang.Double.toString(x))
    case ("double", x: Number) => Some(java.lang.Double.toString(x.doubleValue()))
    case ("string", x: String) => Some(x)
    case ("date", x: java.sql.Date)      => Some(x.toLocalDate.toEpochDay.toString)
    case ("date", x: java.time.LocalDate) => Some(x.toEpochDay.toString)
    case ("ts", x: java.sql.Timestamp) =>
      // getTime's millis already include the nanos' millisecond part —
      // rebuild whole seconds first so the micros don't double-count it.
      Some((Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000L).toString)
    case ("ts", x: java.time.Instant) =>
      Some((x.getEpochSecond * 1000000L + x.getNano / 1000L).toString)
    case _ => None
  }

  /** True when the evaluator can use `f` to prune (for connector
    * `pushedFilters` reporting — the subset that actually participates).
    */
  def supportsPruning(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
         _: LessThanOrEqual | _: In | _: IsNull | _: IsNotNull |
         _: StringStartsWith => true
    case And(l, r) => supportsPruning(l) || supportsPruning(r)
    case Or(l, r)  => supportsPruning(l) && supportsPruning(r)
    case _ => false
  }

  /** Might any row of a file with stats `fs` satisfy `filter`? Errs to
    * `true` on anything it can't prove. NULL semantics: value comparisons
    * (=, <, >, IN, LIKE-prefix) never match NULL rows, so an all-NULL
    * column legitimately prunes them.
    */
  def mightMatch(fs: FileStat, filter: Filter): Boolean = {
    def stat(a: String): Option[ColStat] = fs.cols.get(a)
    // Range check helpers: absent stats → true; all-null column (min/max
    // None with stats PRESENT) → no non-null value exists → false.
    def withRange(a: String)(p: (String, String, String) => Boolean): Boolean =
      stat(a) match {
        case None => true
        case Some(c) => (c.min, c.max) match {
          case (Some(mn), Some(mx)) => p(c.t, mn, mx)
          case _ => false // every value NULL: no value predicate can match
        }
      }
    def ge(t: String, a: String, b: String) = cmp(t, a, b) >= 0
    def le(t: String, a: String, b: String) = cmp(t, a, b) <= 0
    filter match {
      case EqualTo(a, v) => withRange(a) { (t, mn, mx) =>
        toDomain(t, v).forall(x => ge(t, x, mn) && le(t, x, mx))
      }
      case GreaterThan(a, v) => withRange(a) { (t, _, mx) =>
        toDomain(t, v).forall(x => cmp(t, mx, x) > 0)
      }
      case GreaterThanOrEqual(a, v) => withRange(a) { (t, _, mx) =>
        toDomain(t, v).forall(x => ge(t, mx, x))
      }
      case LessThan(a, v) => withRange(a) { (t, mn, _) =>
        toDomain(t, v).forall(x => cmp(t, mn, x) < 0)
      }
      case LessThanOrEqual(a, v) => withRange(a) { (t, mn, _) =>
        toDomain(t, v).forall(x => le(t, mn, x))
      }
      case In(a, vs) => withRange(a) { (t, mn, mx) =>
        // Untranslatable values err to "might match"; an all-translatable,
        // all-out-of-range list proves a miss.
        vs.isEmpty || vs.exists(v => toDomain(t, v) match {
          case None => true
          case Some(x) => ge(t, x, mn) && le(t, x, mx)
        })
      }
      case IsNull(a) => stat(a).forall(_.nulls > 0)
      case IsNotNull(a) => stat(a).forall(c => c.nulls < fs.rows || fs.rows == 0)
      case StringStartsWith(a, p) => withRange(a) { (t, mn, mx) =>
        // Strings with prefix p live in [p, p + U+10FFFF…): miss iff the
        // whole file sorts below p or at/above the exclusive upper bound.
        t != "string" || (mx.compareTo(p) >= 0 && mn.compareTo(p + "􏿿") < 0)
      }
      case And(l, r) => mightMatch(fs, l) && mightMatch(fs, r)
      case Or(l, r)  => mightMatch(fs, l) || mightMatch(fs, r)
      case _ => true
    }
  }

  /** Data-source filters equivalent to "some row of `keys` equi-matches
    * on every column", derived by RUNNING the (small) key frame: one
    * aggregate for per-column min/max envelopes, plus per-column `In`
    * sets when the key count fits `maxInKeys` (collected once). The
    * runtime half of dynamic file pruning — static planning can't see
    * the VALUES a join's build side will produce, so this executes it
    * first and turns the result into prunable filters.
    *
    * None = NO row of `keys` can equi-match anything: the frame is empty,
    * or some column is entirely NULL (NULL never equi-joins, and the
    * match needs every column). Conservative per construction otherwise:
    * per-column envelopes admit value combinations no key row has, and
    * NULL values are excluded from each column's envelope.
    */
  def keyFilters(keys: org.apache.spark.sql.DataFrame,
                 maxInKeys: Int = 10000): Option[Seq[Filter]] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val cols = keys.columns.toSeq
    val aggs = count(lit(1)).as("__n") +:
      cols.flatMap(c => Seq(min(col(c)), max(col(c))))
    val head = keys.agg(aggs.head, aggs.tail: _*).head()
    val n = head.getLong(0)
    if (n == 0L || cols.indices.exists(i => head.get(1 + 2 * i) == null))
      return None
    val collected =
      if (n <= maxInKeys) keys.collect().toSeq
      else Seq.empty[org.apache.spark.sql.Row]
    Some(cols.zipWithIndex.flatMap { case (c, i) =>
      val range = Seq[Filter](GreaterThanOrEqual(c, head.get(1 + 2 * i)),
        LessThanOrEqual(c, head.get(2 + 2 * i)))
      val inSet = collected.map(_.get(i)).filter(_ != null).distinct
      // range first: O(1) per file, and prune's conjunction short-
      // circuits the O(keys) In scan to range-surviving files
      if (inSet.isEmpty) range else range :+ In(c, inSet.toArray)
    })
  }

  /** Drop files whose stats prove no row satisfies ALL `filters` (the
    * conjunction). Sidecars load once per distinct parent dir — batch-
    * count-sized driver IO. Files without stats always survive.
    */
  /** `expectedIds` (current era name → field id): a file whose recorded
    * stat for a name carries a DIFFERENT field id wrote that name in an
    * earlier rename era — its stats describe another physical column, so
    * they must not prune (the file is kept, conservative). Stats without
    * a recorded id (legacy files, pre-round-10 sidecars) participate as
    * before.
    */
  def prune(conf: Configuration, files: Seq[String], filters: Seq[Filter],
            expectedIds: Map[String, Long] = Map.empty): Seq[String] = {
    if (filters.isEmpty || files.isEmpty) return files
    val byDir = files.groupBy(f => new Path(f).getParent)
    val sidecars: Map[Path, Map[String, FileStat]] =
      byDir.keys.map(d => d -> readSidecar(conf, d).getOrElse(Map.empty)).toMap
    files.filter { f =>
      val p = new Path(f)
      sidecars(p.getParent).get(p.getName) match {
        case None => true
        case Some(fs0) =>
          val fs =
            if (expectedIds.isEmpty) fs0
            else fs0.copy(cols = fs0.cols.filter { case (n, c) =>
              (c.id, expectedIds.get(n)) match {
                case (Some(x), Some(e)) => x == e
                case _                  => true
              }
            })
          filters.forall(mightMatch(fs, _))
      }
    }
  }
}
