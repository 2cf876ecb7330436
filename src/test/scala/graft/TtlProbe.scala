package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{TTLConfig, Trigger}

/** Standalone e2e probe for transformWithState + TTL (round-6 retry of the
  * environment-blocked path; see StreamingSpec's plan-level TTL test).
  * Run: sbt "Test/runMain graft.TtlProbe"  — prints PROBE_TTL lines.
  */
object TtlProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.RunningStats
    import RunningStats.{Event => RsEvent, UserStats}

    val ckpt = java.nio.file.Files.createTempDirectory("graft_ttl_probe").toString
    val mem = MemoryStream[RsEvent]
    mem.addData(RsEvent(1, 1000, 2.0), RsEvent(2, 1500, 7.0))
    val ttl = TTLConfig(java.time.Duration.ofMillis(50))

    def runBatch(tag: String): Unit = {
      val q = RunningStats.userStats(spark, mem.toDS(), ttl)
        .writeStream.format("memory").queryName(s"ttl_$tag")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      if (q.isActive) { println(s"PROBE_TTL $tag HUNG"); q.stop() }
      else println(s"PROBE_TTL $tag done rows=" +
        spark.table(s"ttl_$tag").count())
    }

    runBatch("b1")
    Thread.sleep(200) // past the 50 ms TTL: batch-1 state must be expired
    mem.addData(RsEvent(1, 3000, 1.0))
    runBatch("b2")
    // If TTL evicted user 1's state, batch 2 restarts its count at 1.
    val rows = spark.table("ttl_b2").as[UserStats].collect()
      .filter(_.user_id == 1L)
    println(s"PROBE_TTL result user1=" + rows.sortBy(_.n_events).mkString(";"))
    println("PROBE_TTL verdict=" +
      (if (rows.exists(r => r.n_events == 1L && r.last_us == 3000L)) "EVICTED"
       else "RETAINED"))
    spark.stop()
  }
}
