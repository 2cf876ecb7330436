package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Per-file statistics gathered INSIDE the write job, as each row is
  * written — Delta's `DeltaJobStatisticsTracker` move, and the
  * reference's (its block writer keeps each block's key range as rows
  * arrive and never reads a block back to index it), so a commit's data
  * write is one Spark job. The stats are:
  *  - per output file, its row count and (with `sketch`) the
  *    [[FileStats.FileSketch]] payloads behind the sidecar's `n` and `h`
  *    lines; min/max/null counts still come from the Parquet footers;
  *  - with `distinctOf`, the distinct values of that string column over
  *    the whole write (a deletion vector's referenced data files).
  *
  * Spark serializes the tracker into the job; each task's instance
  * reports through [[WriteTaskStats]], and [[processStats]] folds the
  * reports of the SUCCESSFUL task attempts on the driver — a retried or
  * speculative attempt's files never reach [[result]].
  *
  * @param schema the rows' schema, as the write job writes them
  */
final class WriteStats(schema: StructType, sketch: Boolean,
                       distinctOf: Option[String] = None)
    extends WriteJobStatsTracker {
  private val distinctAt = distinctOf.map(schema.fieldIndex)
  @transient private var folded: WriteStats.Result = WriteStats.Result(Map.empty, Set.empty)

  // without `sketch`, a file's accumulators see no column: rows only
  override def newTaskInstance(): WriteTaskStatsTracker =
    new WriteStats.Task(if (sketch) schema else new StructType(), distinctAt)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    synchronized {
      val rs = stats.map(_.asInstanceOf[WriteStats.Result])
      folded = WriteStats.Result(rs.flatMap(_.files).toMap, rs.flatMap(_.distinct).toSet)
    }

  /** What the committed write produced (empty before the job commits). */
  def result: WriteStats.Result = synchronized(folded)
}

object WriteStats {

  /** `files`: output file NAME → its [[FileStats.FileStat]] (rows, and the
    * `n`/`h` payloads when sketching; no min/max). `distinct`: the values
    * of `distinctOf`.
    */
  final case class Result(files: Map[String, FileStats.FileStat], distinct: Set[String])
      extends WriteTaskStats {
    def rows: Long = files.values.map(_.rows).sum
  }

  private final class Task(sketched: StructType, distinctAt: Option[Int])
      extends WriteTaskStatsTracker {
    private val files = mutable.LinkedHashMap[String, FileStats.FileSketch]()
    private val distinct = mutable.HashSet[String]()
    // rows arrive in runs per file (and a vector's coordinates in runs per
    // data file): remember the last lookup instead of repeating it per row
    private var lastPath: String = null
    private var lastSketch: FileStats.FileSketch = null
    private var lastValue: UTF8String = null

    private def sketchOf(path: String): FileStats.FileSketch =
      if (path eq lastPath) lastSketch
      else {
        lastPath = path
        lastSketch = files.getOrElseUpdate(new Path(path).getName, new FileStats.FileSketch(sketched))
        lastSketch
      }

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit = sketchOf(filePath)
    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      sketchOf(filePath).add(row)
      distinctAt.foreach { i =>
        if (!row.isNullAt(i)) {
          val v = row.getUTF8String(i)
          if (lastValue == null || lastValue != v) {
            lastValue = v.clone()
            distinct += v.toString
          }
        }
      }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      Result(files.map { case (n, sk) => n -> sk.result }.toMap, distinct.toSet)
  }
}
