package graft

/** Ad-hoc local smoke main: prints schemas and runs every registered query
  * at a small sf. Not part of the driver contract.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")

    println("== events schema ==")
    graft.tables.Tables.events(spark, sfDir).printSchema()

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val n = fn(spark, sfDir).count()
        println(f"$name%-24s rows=$n%-8d ${(System.nanoTime() - t0) / 1e9}%.2fs")
      } catch {
        case e: Throwable => println(s"$name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
