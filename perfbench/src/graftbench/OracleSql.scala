package graftbench

import org.apache.spark.sql.SparkSession

/** The JVM half of `oracle.py`.
  *
  * `sql`: prints the registry's DuckDB oracle SQL for the `analytics`
  * queries as one JSON object.
  *
  * `digest <dir>`: reads the oracle's result of each `analytics` query from
  * `<dir>/<name>.parquet` and prints its golden line (name, rows, columns,
  * digest; tab-separated) with the same `Canon.digest` the benchmark
  * checks its own results with.
  */
object OracleSql {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("sql") =>
      val sql = graft.SparkEntry.oracleSql
      println(Json.obj(Bench.Analytics.flatMap(n => sql.get(n).map(q => n -> Json.str(q)))))
    case Seq("digest", dir) =>
      val spark = SparkSession.builder().master("local[1]").appName("oracle").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      Bench.Analytics.foreach { n =>
        val df = spark.read.parquet(s"$dir/$n.parquet")
        val rows = df.collect()
        println(Seq(n, rows.length.toString, df.columns.mkString(","),
          Canon.digest(df.columns.toSeq, rows)).mkString("\t"))
      }
      spark.stop()
    case _ => throw new IllegalArgumentException("usage: OracleSql sql | OracleSql digest <dir>")
  }
}
