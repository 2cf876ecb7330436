package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Build-once trees published with single-winner semantics: the fixture
  * caches, the Bloom and ANN sidecars. All IO goes through the Hadoop
  * FileSystem of `base`'s scheme, so a tree publishes the same way on
  * local disk, `graftfs://` or an object-store connector.
  */
object Staging {

  /** Build `base` unless `base/<marker>` is already there.
    *
    * `build` fills a pid-unique staging dir; the marker is written only
    * after a FULL build, so a crashed half-build never publishes. Any
    * orphan of this pid is cleared first: container pid reuse makes that
    * likelier than it sounds, and a `Snapshots.commit` against an
    * orphaned tree would APPEND to it. A build that throws leaves
    * nothing behind.
    *
    * Publishing must end with a marker-valid `base` or throw, never both
    * drop the fresh build and leave `base` invalid. A failed rename means
    * EITHER a concurrent builder won (its marker is in place: our build is
    * dropped — same inputs, identical output) OR a crashed run left a
    * marker-less corpse squatting on `base`, which is evicted before the
    * rename. (Round 7's bench hit the corpse case: the old "assume we lost
    * the race" path deleted the FRESH build, left the partial tree in
    * place, and the first timed `ref_bloom_point` absorbed a rebuild plus
    * a swallowed sidecar-read failure.) Hadoop's rename onto an existing
    * directory moves the source INSIDE it rather than failing, so a copy
    * that lands in a winner's tree is a lost race too.
    */
  def publish(spark: SparkSession, base: String, marker: String)(build: String => Unit): Unit = {
    val dest = new Path(base)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val done = new Path(dest, marker)
    if (fs.exists(done)) return
    val tmp = new Path(s"$base.tmp-${java.lang.ProcessHandle.current().pid()}")
    fs.delete(tmp, true)
    try {
      build(tmp.toString)
      fs.create(new Path(tmp, marker), true).close()
    } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    if (fs.exists(dest) && !fs.exists(done)) fs.delete(dest, true)
    val nested = new Path(dest, tmp.getName)
    if (!fs.exists(done) && fs.rename(tmp, dest) && !fs.exists(nested)) return
    if (!fs.exists(done)) throw new java.io.IOException(
      s"failed to publish staged tree $base and no completed winner is present")
    fs.delete(nested, true)
    fs.delete(tmp, true)
  }
}
