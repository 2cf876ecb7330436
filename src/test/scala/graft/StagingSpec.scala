package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import graft.ingest.Staging

/** The one stage-and-publish protocol behind every fixture tree and index
  * sidecar, on local disk and on a registry-resolved non-file scheme (the
  * object-store stand-in).
  */
class StagingSpec extends SparkSuite {

  private def fsOf(p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def write(p: String): Unit = fsOf(p).create(new Path(p), true).close()

  private def exists(p: String): Boolean = fsOf(p).exists(new Path(p))

  /** Visible entries of `dir` (checksum files start with a dot). */
  private def entries(dir: String): Set[String] =
    fsOf(dir).listStatus(new Path(dir)).map(_.getPath.getName).filterNot(_.startsWith(".")).toSet

  private def tmpOf(base: String): String = s"$base.tmp-${ProcessHandle.current().pid()}"

  for ((scheme, prefix) <- Seq("local" -> "", "graftfs" -> "graftfs://")) {
    def newBase(name: String): String = {
      spark.sparkContext.hadoopConfiguration
        .set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
      prefix + tmpDir(s"graft_staging_$name") + "/tree"
    }

    test(s"$scheme: a marker-less corpse at the destination is evicted and replaced") {
      val base = newBase("corpse")
      write(s"$base/part-partial")
      Staging.publish(spark, base, "_DONE")(tmp => write(s"$tmp/part-0"))
      assert(entries(base) === Set("_DONE", "part-0"))
      assert(!exists(tmpOf(base)))
      // a published tree is never rebuilt
      Staging.publish(spark, base, "_DONE")(_ => fail("rebuilt a published tree"))
    }

    test(s"$scheme: a completed winner that appears before the rename is kept") {
      val base = newBase("race")
      Staging.publish(spark, base, "_DONE") { tmp =>
        write(s"$tmp/part-loser")
        // a concurrent builder publishes while this one builds
        write(s"$base/part-winner")
        write(s"$base/_DONE")
      }
      assert(entries(base) === Set("_DONE", "part-winner"))
      assert(!exists(tmpOf(base)), "the loser's staging dir must be deleted")
    }

    test(s"$scheme: an orphaned same-pid temp dir is cleared before the build") {
      val base = newBase("orphan")
      write(s"${tmpOf(base)}/part-orphan")
      Staging.publish(spark, base, "_DONE")(tmp => write(s"$tmp/part-0"))
      assert(entries(base) === Set("_DONE", "part-0"))
    }

    test(s"$scheme: a build that throws publishes nothing") {
      val base = newBase("throws")
      intercept[IllegalStateException] {
        Staging.publish(spark, base, "_DONE") { tmp =>
          write(s"$tmp/part-0")
          throw new IllegalStateException("build failed")
        }
      }
      assert(!exists(base) && !exists(tmpOf(base)))
    }
  }
}
