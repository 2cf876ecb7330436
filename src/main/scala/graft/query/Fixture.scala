package graft.query

import org.apache.spark.sql.SparkSession
import graft.ingest.Staging

/** One entry of the fixture registry: a build-once tree that registered
  * queries read (an ingest layout, a snapshot lifecycle, a catalog
  * warehouse, a format copy), staged once per (layout version, sf, source
  * fingerprint) so a query times its read path, not the staging.
  *
  * The tree lives at [[base]]: `<Tmp>/<root>/<LayoutVersion>/<sf>_<fp>`
  * plus `suffix`, where `fp` fingerprints the `table` parquet of the sf
  * dir. A non-empty `suffix` names a tree derived from the one at the same
  * root (an MV over a snapshot, a clone of a lineage table), which its
  * build stages first. `build` fills a staging dir, published through
  * [[Staging.publish]] under `marker`; `after` runs on every use, on the
  * published base (steps that must see the final path, such as catalog
  * registration). Applying an entry returns its base.
  */
final class Fixture private (val root: String, table: String, suffix: String,
                             val marker: String, after: (SparkSession, String) => Unit,
                             build: (SparkSession, String, String) => Unit) {

  /** The registry key: two entries may not share it. */
  def key: String = root + suffix

  def base(sfDir: String): String = Fixture.cacheBase(root, sfDir, table) + suffix

  def apply(s: SparkSession, sfDir: String): String = {
    val b = base(sfDir)
    Staging.publish(s, b, marker)(build(s, sfDir, _))
    after(s, b)
    b
  }
}

object Fixture {

  /** `build(session, sfDir, stagingDir)` fills the tree. */
  def apply(root: String, table: String, suffix: String = "", marker: String = "_STAGED",
            after: (SparkSession, String) => Unit = (_, _) => ())(
      build: (SparkSession, String, String) => Unit): Fixture =
    new Fixture(root, table, suffix, marker, after, build)

  /** The one directory every fixture root lives under. */
  val Tmp = "/tmp"

  // The key includes LayoutVersion (bump whenever BlockWriter's layout
  // changes) AND a content fingerprint of the source parquet (size +
  // mtime, recursive for directories) — regenerated testdata at the same
  // path gets a fresh tree instead of silently reading stale rows.
  // v3: stats sidecars + INT64-micros timestamps
  // v4: cache dir names no longer start with "_" — `/root/...` used to
  //     sanitize to `_root_...`, a HIDDEN-looking read root that made
  //     DataSource log `All paths were ignored` once per read (cosmetic —
  //     explicit roots are exempt from hidden filtering — but five of
  //     them per bench run is exactly the noise that crowds a bounded
  //     log tail)
  private val LayoutVersion = "v4"

  /** A filesystem-safe, NON-HIDDEN cache key segment for an sf dir. */
  private def sfKey(sfDir: String): String =
    sfDir.stripPrefix("/").replaceAll("[^A-Za-z0-9.]", "_")

  private def fingerprint(f: java.io.File): Long = {
    val self = f.length ^ java.lang.Long.rotateLeft(f.lastModified, 21)
    if (!f.isDirectory) self
    // listFiles() ordering is filesystem-dependent and the rotate/XOR fold
    // is non-commutative — sort by name so an unchanged directory always
    // fingerprints identically (no spurious re-ingests or orphaned dirs).
    else f.listFiles().sortBy(_.getName).foldLeft(self) { (acc, c) =>
      java.lang.Long.rotateLeft(acc, 7) ^ fingerprint(c)
    }
  }

  private[graft] def cacheBase(root: String, sfDir: String, table: String): String = {
    val fp = java.lang.Long.toHexString(
      fingerprint(new java.io.File(sfDir, s"$table.parquet")))
    s"$Tmp/$root/$LayoutVersion/" + sfKey(sfDir) + s"_$fp"
  }

  /** The source fingerprint a suffix-less base ends with. */
  def fingerprintOf(base: String): String = base.substring(base.lastIndexOf('_') + 1)

  /** The registry over `entries`, refusing two entries with one key: two
    * trees under one root are kept apart only by their source tables'
    * fingerprints, and a reset or a tool keyed by root would take both.
    */
  def registry(entries: Seq[Fixture]): Seq[Fixture] = {
    val twice = entries.groupBy(_.key).collect { case (k, es) if es.size > 1 => k }
    require(twice.isEmpty, s"fixture roots registered twice: ${twice.mkString(", ")}")
    entries
  }
}
