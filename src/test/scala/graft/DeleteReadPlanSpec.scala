package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ingest.Snapshots

/** Delete-aware reads plan from metadata alone: on tables holding
  * equality batches, deletion vectors or both, building a read runs no
  * Spark job (key and vector files are read with known schemas, and the
  * dirty-file set comes from the delete dirs' `_refs.txt`), and the rows
  * match the same table compacted.
  */
class DeleteReadPlanSpec extends SparkSuite {

  private def kv(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("k"), col("v")).collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** Keys 1..40 (v = 10k) in four key-range files, so deletes leave some
    * files clean.
    */
  private def seed(prefix: String): String = {
    val sess = spark
    import sess.implicits._
    val base = tmpDir(prefix)
    Snapshots.commit(spark,
      (1L to 40L).map(i => (i, i * 10L)).toDF("k", "v").repartitionByRange(4, col("k")),
      base, sortCols = Seq("k"))
    base
  }

  private def eqDeletes(base: String): Unit = {
    val sess = spark
    import sess.implicits._
    Snapshots.deleteByKeys(spark, base, Seq(3L, 25L).toDF("k"))
    Snapshots.upsertByKeys(spark, base, Seq((4L, 44L), (41L, 410L)).toDF("k", "v"), Seq("k"))
  }

  private def vectors(base: String): Unit = {
    eqDeletes(base)
    Snapshots.convertEqToDv(spark, base)
    Snapshots.deleteWhereDV(spark, base, col("k") === 7L)
  }

  private def both(base: String): Unit = {
    val sess = spark
    import sess.implicits._
    vectors(base)
    Snapshots.deleteByKeys(spark, base, Seq(12L, 33L).toDF("k"))
  }

  private val kinds: Seq[(String, String => Unit)] = Seq(
    "equality batches" -> eqDeletes,
    "vectors after convertEqToDv" -> vectors,
    "vectors and equality batches" -> both)

  private def latest(base: String): Long = Snapshots.versions(base).max

  /** The `dv_*` dirs that still hold vector files. */
  private def vectorDirs(base: String): Seq[File] =
    new File(base, "data").listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("dv_") &&
        d.listFiles().exists(_.getName.endsWith(".parquet")))
      .sortBy(_.getName)

  private def refsOf(dir: File): Set[String] =
    new String(Files.readAllBytes(new File(dir, "_refs.txt").toPath), UTF_8)
      .split("\n").filter(_.nonEmpty).toSet

  for ((kind, build) <- kinds) {
    test(s"$kind: readWhere, read and hiddenRows build with no Spark job") {
      val base = seed("graft_dvplan")
      build(base)
      val cond = col("k") <= 30L
      val (where, whereJobs) = jobsOf(Snapshots.readWhere(spark, base, cond))
      val (all, readJobs) = jobsOf(Snapshots.read(spark, base))
      val (hidden, hiddenJobs) = jobsOf(Snapshots.hiddenRows(spark, base, Seq("k", "v")))
      assert((whereJobs, readJobs, hiddenJobs) === ((0, 0, 0)))
      val visible = kv(all)
      val raw = kv(spark.read.parquet(Snapshots.liveFiles(base, latest(base)): _*))
      assert(kv(hidden) === raw.diff(visible).sorted)
      assert(kv(where) === visible.filter(_._1 <= 30L))
      Snapshots.compact(spark, base, numFiles = 1)
      assert(visible === kv(Snapshots.read(spark, base)))
    }
  }

  test("each vector's _refs.txt holds exactly the data files it references") {
    val base = seed("graft_dvplan_refs")
    both(base)
    val dirs = vectorDirs(base)
    assert(dirs.size === 2) // the convert's vector and the DV delete's
    for (d <- dirs) {
      val parquet = d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
      val dvFiles = spark.read.parquet(parquet: _*).select("dv_file").distinct()
        .collect().map(_.getString(0)).toSet
      assert(refsOf(d) === dvFiles)
    }
  }

  test("vectors without _refs.txt (written before it existed) still read exactly") {
    val base = seed("graft_dvplan_legacy")
    val vDv = { vectors(base); latest(base) }
    val sess = spark
    import sess.implicits._
    Snapshots.deleteByKeys(spark, base, Seq(12L).toDF("k"))
    val cond = col("k") <= 30L
    def state = (kv(Snapshots.read(spark, base)), kv(Snapshots.readWhere(spark, base, cond)),
      kv(Snapshots.hiddenRows(spark, base, Seq("k", "v"))),
      kv(Snapshots.removedRows(spark, base, vDv - 1, vDv)),
      kv(Snapshots.read(spark, base, Some(vDv))))
    val before = state
    for (d <- vectorDirs(base)) assert(new File(d, "_refs.txt").delete())
    assert(state === before)
    assert(before._4 === Seq(7L -> 70L))
  }

  test("expire and removeOrphans keep a live vector's _refs.txt") {
    val base = seed("graft_dvplan_sweep")
    vectors(base)
    val expected = kv(Snapshots.read(spark, base))
    val live = vectorDirs(base)
    val refs = live.map(refsOf)
    Snapshots.expire(base, keepLast = 1)
    Snapshots.removeOrphans(base, olderThanMs = -10000L)
    assert(vectorDirs(base) === live)
    assert(live.map(refsOf) === refs)
    assert(kv(Snapshots.read(spark, base)) === expected)
    // once compaction retires the vectors, the sweep removes their dirs,
    // sidecar included
    Snapshots.compact(spark, base, numFiles = 1)
    Snapshots.expire(base, keepLast = 1)
    assert(live.forall(!_.exists()))
    assert(kv(Snapshots.read(spark, base)) === expected)
  }
}
