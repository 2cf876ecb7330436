package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val only = rest.toSet // optional query-name filter for local iteration
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A refused or failed query must leave NO dump behind: with a reused
    // outDir, a stale `$outDir/$name` from a previous run would otherwise
    // be compared in place of the refused result and pass silently —
    // defeating the loud missing-dump failure the refusal exists to cause.
    def dropStale(name: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      val target = new java.io.File(s"$outDir/$name")
      if (target.exists()) rm(target)
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Comparator contract: the driver's pandas gate cannot sort
        // complex-typed cells (r14 seq1). Refusing the dump makes the
        // violation a LOUD missing-dump failure instead of a comparator
        // crash that zeroes the row with an opaque TypeError.
        val complex = ComparatorContract.complexColumns(df.schema)
        if (complex.nonEmpty) {
          dropStale(name)
          System.err.println(s"[verify] $name REFUSED: complex-typed output " +
            s"columns [${complex.mkString("; ")}] — serialize them " +
            "(array_join/to_json) so the driver comparator can sort")
        } else df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        dropStale(name)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of every registered query, so checkers can flag queries
    // whose dump is missing (i.e. failed above) instead of skipping them.
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq.filter(n => only.isEmpty || only(n))
        .sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
