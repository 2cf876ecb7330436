package graft

import org.apache.spark.sql.SparkSession
import graft.tables.Tables

/** Library entry point and the one place graft builds a `SparkSession`:
  * a session configured the way graft expects and (optionally) the
  * standard tables of a data directory exposed as views — after which the
  * whole engine is usable from pure SQL (`session.sql("SELECT fnv64(text)
  * … FROM documents")`).
  *
  * graft's planner pieces reach Catalyst only through
  * `spark.sql.extensions=graft.functions.GraftExtensions`, which this
  * factory sets; a session built any other way needs that conf, as Delta
  * and Iceberg sessions need theirs. See [[graft.functions.GraftExtensions]]
  * for which rule runs in which optimizer batch.
  *
  * Settings rationale (100 TB posture, scaled to one machine here):
  * shuffle partitions sized to cores (not the 200 default — at cluster
  * scale set ≈2-3× total cores); AQE left on (runtime coalescing, skew
  * split); UTC session timezone so event-time semantics are
  * deployment-independent; WITH RECURSIVE's row budget sized for data
  * (its 1M-row default is a runaway-recursion rail, and rc1's
  * depth-bounded recursion has a data-sized per-level row count, which the
  * x8 scale sweep tripped honestly — keep the rail, size it for data).
  */
object GraftSession {

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  /** Cores to run on: `$SPARK_GRAFT_CPUS`, else every available processor. */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def create(master: String = s"local[$defaultCores]",
             cores: Int = defaultCores): SparkSession =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.cteRecursionRowLimit", "100000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Register every standard table of `dataDir` as a temp view (plus
    * `events` with its normalized `ts_us`/`ts_t` columns).
    */
  def registerViews(s: SparkSession, dataDir: String): Unit = {
    TableNames.foreach { t =>
      Tables.table(s, dataDir, t).createOrReplaceTempView(t)
    }
    Tables.events(s, dataDir).createOrReplaceTempView("events")
  }
}
