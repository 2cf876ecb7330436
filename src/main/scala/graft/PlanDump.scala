package graft

/** Diagnostic main: dump `explain("formatted")` for registered queries to
  * files — the evidence trail for optimization rounds (plans/rNN).
  * Not part of the driver contract.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [name,name,...]
  *
  * Note: queries whose CONSTRUCTION runs eager work (localCheckpoint,
  * kernel dispatch counts) execute that work here too — the dumped plan is
  * the final action's plan, which is what the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "before"
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").toSet else Set.empty
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          println(s"PLANDUMP ok $name")
        } catch { case e: Throwable =>
          println(s"PLANDUMP fail $name: ${e.getClass.getName}: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
