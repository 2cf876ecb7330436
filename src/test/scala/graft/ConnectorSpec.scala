package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import graft.ingest.{FileStats, Snapshots}

/** The commit-time stats layer ([[FileStats]]), the pruned read path
  * (`Snapshots.readWhere`), and the `graft` DataSource V2 connector
  * (batch options, SQL surface, streaming source) — guarantees the DuckDB
  * oracle can't express: conservative pruning, planning-time file
  * skipping, offset-checkpointed incremental streams.
  */
class ConnectorSpec extends SparkSuite {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).toSet

  /** Rewrite the batch sidecars of `base`'s live files without their NDV
    * sketches (`ndv`) or histogram counts (`hist`): a twin whose only
    * difference from a normally written table is the stats the connector
    * reports. Min/max and the other kind of sketch stay.
    */
  private def dropSketches(base: String, ndv: Boolean = false, hist: Boolean = false): Unit =
    Snapshots.liveFiles(base, Snapshots.versions(base).max)
      .groupBy(f => new Path(f).getParent).foreach { case (dir, files) =>
        val kept = FileStats.readSidecar(conf, dir).getOrElse(Map.empty).map { case (f, st) =>
          f -> st.copy(ndv = if (ndv) Map.empty else st.ndv,
            hist = if (hist) Map.empty else st.hist)
        }
        FileStats.writeSidecar(conf, dir, files, kept)
      }

  /** Three single-file commits with disjoint id ranges [1,10] [11,20]
    * [21,30]; returns (base, files ascending by range).
    */
  private def rangedTable(prefix: String): (String, Seq[String]) = {
    val sess = spark
    import sess.implicits._
    val base = tmpDir(prefix)
    Snapshots.commit(spark, (1L to 10L).toDF("id").repartition(1), base, sortCols = Seq("id"))
    Snapshots.commit(spark, (11L to 20L).toDF("id").repartition(1), base, sortCols = Seq("id"))
    Snapshots.commit(spark, (21L to 30L).toDF("id").repartition(1), base, sortCols = Seq("id"))
    val files = Snapshots.liveFiles(base, Snapshots.versions(base).max)
    assert(files.size === 3)
    val byMin = files.sortBy { f =>
      spark.read.parquet(f).agg(min(col("id"))).collect()(0).getLong(0)
    }
    (base, byMin)
  }

  test("footer stats prune files conservatively across filter shapes") {
    val (base, files) = rangedTable("graft_stats_prune")
    def prune(fs: Filter*): Set[String] =
      FileStats.prune(conf, files, fs.toSeq).toSet
    // range shapes
    assert(prune(GreaterThan("id", 20L)) === Set(files(2)))
    assert(prune(GreaterThanOrEqual("id", 20L)) === Set(files(1), files(2)))
    assert(prune(LessThan("id", 11L)) === Set(files(0)))
    assert(prune(EqualTo("id", 15L)) === Set(files(1)))
    assert(prune(EqualTo("id", 31L)) === Set.empty)
    assert(prune(In("id", Array(5L, 25L))) === Set(files(0), files(2)))
    assert(prune(Or(LessThan("id", 5L), GreaterThan("id", 25L))) === Set(files(0), files(2)))
    assert(prune(And(GreaterThan("id", 12L), LessThan("id", 18L))) === Set(files(1)))
    // int literal in a long domain — the translated value class differs
    assert(prune(EqualTo("id", 15)) === Set(files(1)))
    // a no-null column: IS NULL prunes everything, IS NOT NULL nothing
    assert(prune(IsNull("id")) === Set.empty)
    assert(prune(IsNotNull("id")) === files.toSet)
    // shapes the evaluator doesn't model keep everything
    assert(prune(Not(EqualTo("id", 15L))) === files.toSet)
    // unknown column keeps everything
    assert(prune(EqualTo("nope", 1L)) === files.toSet)
    // a missing sidecar disables pruning for that dir only
    val fs = new Path(files(2)).getFileSystem(conf)
    fs.delete(new Path(new Path(files(2)).getParent, FileStats.SidecarName), false)
    assert(prune(GreaterThan("id", 20L)) === Set(files(2)))
    assert(prune(LessThan("id", 5L)) === Set(files(0), files(2)))
  }

  test("string, null-count and all-null stats prune correctly") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_stats_str")
    Snapshots.commit(spark,
      Seq(("apple", Some(1L)), ("banana", Some(2L))).toDF("s", "v").repartition(1),
      base)
    Snapshots.commit(spark,
      Seq(("melon", None: Option[Long]), ("peach", Some(4L))).toDF("s", "v").repartition(1),
      base)
    Snapshots.commit(spark,
      Seq(("zebra", None: Option[Long]), ("zoo", None: Option[Long])).toDF("s", "v").repartition(1),
      base)
    val files = Snapshots.liveFiles(base, Snapshots.versions(base).max).sortBy { f =>
      spark.read.parquet(f).agg(min(col("s"))).collect()(0).getString(0)
    }
    def prune(fs: Filter*): Set[String] =
      FileStats.prune(conf, files, fs.toSeq).toSet
    assert(prune(EqualTo("s", "melon")) === Set(files(1)))
    assert(prune(GreaterThan("s", "peach")) === Set(files(2)))
    assert(prune(StringStartsWith("s", "ze")) === Set(files(2)))
    assert(prune(StringStartsWith("s", "m")) === Set(files(1)))
    // nulls: only files 2 and 3 contain NULL v; file 3 is ALL null, so a
    // value predicate on v prunes it even though the range is unknown
    assert(prune(IsNull("v")) === Set(files(1), files(2)))
    assert(prune(IsNotNull("v")) === Set(files(0), files(1)))
    assert(prune(EqualTo("v", 4L)) === Set(files(1)))
    assert(prune(GreaterThan("v", 0L)) === Set(files(0), files(1)))
  }

  test("readWhere equals read.filter and drops pruned files at planning time") {
    val (base, files) = rangedTable("graft_readwhere")
    val cond = col("id") > 20L && col("id") % 2 === 0
    assert(ids(Snapshots.readWhere(spark, base, cond)) ===
      ids(Snapshots.read(spark, base).filter(cond)))
    // all-pruned: empty result, correct schema, no error
    val none = Snapshots.readWhere(spark, base, col("id") > 100L)
    assert(none.columns.toSeq === Seq("id") && none.count() === 0L)
    // DVs and pruning compose (the DV anti join runs on surviving files)
    Snapshots.deleteWhereDV(spark, base, col("id") === 25L)
    assert(ids(Snapshots.readWhere(spark, base, col("id") > 20L)) ===
      (21L to 30L).toSet - 25L)
    // THE planning-time proof: delete the [1,10] data file from disk. The
    // unpruned read must fail on the missing file; the pruned read never
    // plans it, so it succeeds.
    val fs = new Path(files(0)).getFileSystem(conf)
    fs.delete(new Path(files(0)), false)
    intercept[Exception] { Snapshots.read(spark, base).count() }
    assert(ids(Snapshots.readWhere(spark, base, col("id") > 20L)) ===
      (21L to 30L).toSet - 25L)
  }

  test("readWhere prunes on date and timestamp domains") {
    val base = tmpDir("graft_readwhere_time")
    def slice(lo: Int, hi: Int) = spark.sql(
      s"""SELECT id, date_add(date'2024-01-01', CAST(id AS INT)) AS d,
         |  timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts
         |FROM range($lo, $hi)""".stripMargin).repartition(1)
    Snapshots.commit(spark, slice(0, 10), base, sortCols = Seq("id"))
    Snapshots.commit(spark, slice(10, 20), base, sortCols = Seq("id"))
    val files = Snapshots.liveFiles(base, Snapshots.versions(base).max)
    // one typed literal, one string-cast literal: the translation probe
    // folds the cast, so BOTH shapes prune
    val dCond = col("d") >= lit("2024-01-15").cast("date")
    val tCond = col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:05"))
    assert(Snapshots.readWhere(spark, base, dCond).count() ===
      Snapshots.read(spark, base).filter(dCond).count())
    assert(Snapshots.readWhere(spark, base, tCond).count() ===
      Snapshots.read(spark, base).filter(tCond).count())
    // and the stats actually engage on both domains
    val schema = Snapshots.pinnedSchema(base, Snapshots.Pin.Latest).get
    def translated(c: org.apache.spark.sql.Column): Seq[Filter] =
      org.apache.spark.sql.graft.Bridge.pushableFilters(spark, schema, c)
    assert(FileStats.prune(conf, files, translated(dCond)).size === 1)
    assert(FileStats.prune(conf, files, translated(tCond)).size === 1)
  }

  test("format(graft) batch read matches the Snapshots API across pins") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_conn_batch")
    val v1 = Snapshots.commit(spark, (1L to 5L).toDF("id"), base)
    Snapshots.commit(spark, (6L to 9L).toDF("id"), base)
    Snapshots.deleteWhereDV(spark, base, col("id") === 7L)
    Snapshots.tag(base, "first", v1)
    Snapshots.createBranch(base, "wip")
    Snapshots.commitToBranch(spark, (100L to 101L).toDF("id"), base, "wip")
    def load(opts: (String, String)*) =
      opts.foldLeft(spark.read.format("graft"))((r, o) => r.option(o._1, o._2)).load(base)
    assert(ids(load()) === ((1L to 9L).toSet - 7L))
    assert(ids(load("versionAsOf" -> v1.toString)) === (1L to 5L).toSet)
    assert(ids(load("tag" -> "first")) === (1L to 5L).toSet)
    assert(ids(load("branch" -> "wip")) === ((1L to 9L).toSet - 7L) ++ Set(100L, 101L))
    intercept[IllegalArgumentException] {
      load("tag" -> "first", "branch" -> "wip").collect()
    }
    // column pruning + filters through the DSv2 path, incl. 3VL NULLs
    val withNulls = load().select((col("id") * 2).as("dbl"), col("id"))
      .filter(col("id") > 3L)
    assert(withNulls.select(col("dbl")).collect().map(_.getLong(0)).toSet ===
      ((4L to 9L).toSet - 7L).map(_ * 2))
    assert(load().count() === 8L) // empty required-column projection
    assert(load().filter(col("id").isNull).count() === 0L)
  }

  test("the connector's pushed filters prune files at planning time") {
    val (base, files) = rangedTable("graft_conn_prune")
    // same missing-file proof as readWhere, through format("graft")
    val fs = new Path(files(0)).getFileSystem(conf)
    fs.delete(new Path(files(0)), false)
    // the probe must TOUCH data (a bare count() now answers from
    // manifest metadata by design and never opens the missing file)
    intercept[Exception] {
      spark.read.format("graft").load(base).agg(sum(col("id"))).head()
    }
    assert(ids(spark.read.format("graft").load(base).filter(col("id") > 20L))
      === (21L to 30L).toSet)
  }

  test("SQL: CREATE TABLE USING graft reads through the catalog") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_conn_sql")
    Snapshots.commit(spark, (1L to 6L).toDF("id"), base)
    spark.sql(s"CREATE TABLE graft_sql_t USING graft OPTIONS (path '$base')")
    try {
      assert(spark.sql("SELECT sum(id) AS s FROM graft_sql_t WHERE id > 2")
        .collect()(0).getLong(0) === (3L to 6L).sum)
    } finally spark.sql("DROP TABLE graft_sql_t")
  }

  test("batch writes through the connector commit snapshots") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_conn_write")
    // first write CREATES the table (TableProvider writes need an explicit
    // append/overwrite mode — Spark rejects ErrorIfExists for v2 sources)
    (1L to 5L).toDF("id").write.format("graft").mode("append").save(base)
    (6L to 8L).toDF("id").write.format("graft").mode("append").save(base)
    assert(ids(Snapshots.read(spark, base)) === (1L to 8L).toSet)
    // overwrite = an overwrite COMMIT: old state stays time-travelable
    val vPre = Snapshots.versions(base).max
    (100L to 101L).toDF("id").write.format("graft").mode("overwrite").save(base)
    assert(ids(Snapshots.read(spark, base)) === Set(100L, 101L))
    assert(ids(Snapshots.read(spark, base, Some(vPre))) === (1L to 8L).toSet)
    // SQL DML through the catalog: INSERT INTO + DELETE FROM (DV delete)
    spark.sql(s"CREATE TABLE graft_dml_t USING graft OPTIONS (path '$base')")
    try {
      spark.sql("INSERT INTO graft_dml_t VALUES (102)")
      assert(ids(spark.table("graft_dml_t")) === Set(100L, 101L, 102L))
      spark.sql("DELETE FROM graft_dml_t WHERE id = 101")
      assert(ids(spark.table("graft_dml_t")) === Set(100L, 102L))
      assert(Snapshots.modeOf(base, Snapshots.versions(base).max) === "delete-dv")
    } finally spark.sql("DROP TABLE graft_dml_t")
    // branch writes stage without touching main (WAP from the writer API)
    Snapshots.createBranch(base, "stage")
    (200L to 201L).toDF("id").write.format("graft")
      .option("branch", "stage").mode("append").save(base)
    assert(ids(Snapshots.readBranch(spark, base, "stage")) === Set(100L, 102L, 200L, 201L))
    assert(ids(Snapshots.read(spark, base)) === Set(100L, 102L))
    // read-only pins refuse writes
    intercept[Exception] {
      (1L to 2L).toDF("id").write.format("graft")
        .option("versionAsOf", vPre.toString).mode("append").save(base)
    }
  }

  test("replaceWhere: scoped atomic backfill is idempotent, untouched files carry by path") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_replace_where")
    // three single-file "days" with disjoint v ranges
    def day(d: Long): org.apache.spark.sql.DataFrame =
      (1L to 10L).map(i => (d, d * 100 + i)).toDF("day", "v")
    Seq(1L, 2L, 3L).foreach(d =>
      Snapshots.commit(spark, day(d).repartition(1), base, sortCols = Seq("day")))
    val before = Snapshots.liveFiles(base, Snapshots.versions(base).max)
    assert(before.size === 3)
    val vPre = Snapshots.versions(base).max
    def visible(): Set[(Long, Long)] =
      Snapshots.read(spark, base).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ((1L to 10L).map(i => (1L, 100 + i)) ++
      (1L to 5L).map(i => (2L, 9000 + i)) ++
      (1L to 10L).map(i => (3L, 300 + i))).toSet
    // the backfill: 5 corrected rows replace day 2, one atomic commit
    val fix = (1L to 5L).map(i => (2L, 9000L + i)).toDF("day", "v")
    fix.write.format("graft").mode("overwrite")
      .option("replaceWhere", "day = 2").save(base)
    assert(visible() === want)
    // ONE commit; mode row-level-attributable; pre-replace time travel intact
    val v1 = Snapshots.versions(base).max
    assert(v1 === vPre + 1)
    assert(Snapshots.modeOf(base, v1) === "replace-where")
    assert(Snapshots.read(spark, base, Some(vPre)).count() === 30)
    // untouched (and even the replaced) files carry BY PATH — the delete
    // is a vector, never a rewrite
    val files1 = Snapshots.liveFiles(base, v1)
    assert(before.forall(files1.contains))
    // re-running the same backfill is idempotent in table state
    fix.write.format("graft").mode("overwrite")
      .option("replaceWhere", "day = 2").save(base)
    assert(visible() === want)
    // the change feed attributes the replace row-level: 5 inserts + the
    // 10 replaced rows as deletes for v1's window
    val feed = Snapshots.changeFeed(spark, base, vPre, v1)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed === Map("insert" -> 5L, "delete" -> 10L))
    // enforcement: a written row outside the declared scope refuses and
    // leaves no new version behind
    val vNow = Snapshots.versions(base).max
    val bad = Seq((4L, 1L)).toDF("day", "v")
    val e = intercept[IllegalArgumentException] {
      bad.write.format("graft").mode("overwrite")
        .option("replaceWhere", "day = 2").save(base)
    }
    assert(e.getMessage.contains("declared"))
    assert(Snapshots.versions(base).max === vNow)
    assert(visible() === want)
    // append mode with a declared scope is a user error, not a silent drop
    intercept[IllegalArgumentException] {
      fix.write.format("graft").mode("append")
        .option("replaceWhere", "day = 2").save(base)
    }
    // the engine route (overwrite-by-expression, no enforcement): Spark's
    // "delete by predicate then insert" contract through the same commit
    Snapshots.replaceWhere(spark, Seq((9L, 1L)).toDF("day", "v"), base,
      col("day") === 3L, enforce = false)
    assert(visible() ===
      (want.filterNot(_._1 == 3L) + ((9L, 1L))))
  }

  test("streaming sink append fills identity columns per micro-batch") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
    // a table whose schema header carries an identity spec (the CREATE
    // path takes the frame's metadata as authoritative)
    val base = tmpDir("graft_sink_ident")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, new MetadataBuilder()
        .putLong("identity.start", 1L).putLong("identity.step", 1L)
        .putBoolean("identity.allowExplicitInsert", false).build()),
      StructField("v", LongType)))
    Snapshots.commit(spark,
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema),
      base)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("v").writeStream.format("graft")
      .option("path", base)
      .option("checkpointLocation", tmpDir("graft_sink_ident_ck"))
      .start()
    try {
      mem.addData(10L, 20L, 30L)
      q.processAllAvailable()
      mem.addData(40L, 50L)
      q.processAllAvailable()
      // every streamed row got an id; ranges claimed per micro-batch
      // never overlap — ids are exactly 1..5
      val got = Snapshots.read(spark, base).orderBy("id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.map(_._1) === (1L to 5L), got)
      assert(got.map(_._2).toSet === Set(10L, 20L, 30L, 40L, 50L))
    } finally q.stop()
  }

  test("streaming sink: append replication, update upserts, complete aggregates") {
    val sess = spark
    import sess.implicits._
    // table→table incremental replication: graft source feeding graft sink
    val src = tmpDir("graft_sink_src")
    val dst = tmpDir("graft_sink_dst")
    Snapshots.commit(spark, (1L to 5L).toDF("id"), src)
    val q = spark.readStream.format("graft").load(src)
      .writeStream.format("graft")
      .option("path", dst)
      .option("checkpointLocation", tmpDir("graft_sink_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(ids(Snapshots.read(spark, dst)) === (1L to 5L).toSet)
      Snapshots.commit(spark, (6L to 8L).toDF("id"), src)
      q.processAllAvailable()
      assert(ids(Snapshots.read(spark, dst)) === (1L to 8L).toSet)
    } finally q.stop()

    // Update mode: DV-merge upserts keyed by mergeKeys
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val upBase = tmpDir("graft_sink_up")
    val mem = MemoryStream[(Long, String)]
    val uq = mem.toDF().toDF("k", "v").writeStream.format("graft")
      .outputMode("update")
      .option("path", upBase).option("mergeKeys", "k")
      .option("checkpointLocation", tmpDir("graft_sink_up_ckpt"))
      .start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      uq.processAllAvailable()
      mem.addData((2L, "B"), (3L, "c"))
      uq.processAllAvailable()
      val state = Snapshots.read(spark, upBase).as[(Long, String)].collect().toMap
      assert(state === Map(1L -> "a", 2L -> "B", 3L -> "c"))
      assert(Snapshots.modeOf(upBase, Snapshots.versions(upBase).max).startsWith("merge:b"))
    } finally uq.stop()

    // Complete mode: each refresh overwrites, history keeps the old ones
    val aggBase = tmpDir("graft_sink_agg")
    val mem2 = MemoryStream[Long]
    val aq = mem2.toDF().toDF("id")
      .groupBy((col("id") % 2).as("parity")).agg(count(lit(1)).as("n"))
      .writeStream.format("graft").outputMode("complete")
      .option("path", aggBase)
      .option("checkpointLocation", tmpDir("graft_sink_agg_ckpt"))
      .start()
    try {
      mem2.addData(1L, 2L, 3L)
      aq.processAllAvailable()
      mem2.addData(4L)
      aq.processAllAvailable()
      val byParity = Snapshots.read(spark, aggBase).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byParity === Map(0L -> 2L, 1L -> 2L))
      assert(Snapshots.versions(aggBase).size >= 2)
    } finally aq.stop()
  }

  test("streaming sink honors write.cluster-by per micro-batch") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tmpDir("graft_sink_cl")
    // declare clustering before the first batch lands
    graft.connector.TableProps.write(base, Map("write.cluster-by" -> "k"))
    val mem = MemoryStream[Long]
    // several contiguous-range files per SORTED batch partition
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    val q = mem.toDF().toDF("k").writeStream.format("graft")
      .option("path", base)
      .option("checkpointLocation", tmpDir("graft_sink_cl_ckpt"))
      .start()
    try {
      // scattered keys: without the range-repartition+sort the arrival
      // order would leave every file spanning the whole key domain
      mem.addData(scala.util.Random.shuffle((0L until 400L).toList): _*)
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    assert(Snapshots.read(spark, base).count() === 400)
    val dim = Seq(7L, 8L).toDF("dk")
    val (kept, total) = graft.query.RuntimePrune.candidateFiles(
      spark, base, "k", dim, "dk")
    assert(total >= 3, s"expected several files, got $total")
    assert(kept.size <= 1, s"streamed files should range-cluster (kept ${kept.size}/$total)")
  }

  test("manifest stats reach Catalyst: small graft tables auto-broadcast") {
    val sess = spark
    import sess.implicits._
    val dim = tmpDir("graft_stats_dim")
    val fact = tmpDir("graft_stats_fact")
    Snapshots.commit(spark, (1L to 100L).toDF("id"), dim)
    Snapshots.commit(spark,
      spark.range(50000).select((col("id") % 100 + 1).as("id"), col("id").as("v")), fact)
    // reported numbers match the manifest: exact row count, real bytes
    val (dimBytes, dimRows) = Snapshots.scanStats(dim)
    assert(dimRows === Some(100L) && dimBytes.exists(_ > 0))
    // a filter provably matching no row prunes every FACT file: the
    // fact's pruned size drops to zero while its unpruned size is real
    val (factBytes, factRows) = Snapshots.scanStats(fact)
    assert(factRows === Some(50000L) && factBytes.exists(_ > 0))
    val (prunedBytes, prunedRows) =
      Snapshots.scanStats(fact, pruneFilters = Seq(EqualTo("id", -1L)))
    assert(prunedBytes === Some(0L) && prunedRows === Some(0L))
    // the join picks broadcast WITHOUT a hint — only possible if the
    // scan reported a real (small) size instead of the unknown default
    val joined = spark.read.format("graft").load(fact)
      .join(spark.read.format("graft").load(dim), "id")
    val phys = joined.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"expected broadcast join, got:\n$phys")
    assert(joined.count() === 50000L)
  }

  test("streaming source: initial snapshot, per-commit deltas, restart from checkpoint") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_conn_stream")
    val ckpt = tmpDir("graft_conn_stream_ckpt")
    Snapshots.commit(spark, (1L to 5L).toDF("id"), base)
    val q1 = spark.readStream.format("graft").load(base)
      .writeStream.format("memory").queryName("graft_stream_1")
      .option("checkpointLocation", ckpt).start()
    try {
      q1.processAllAvailable()
      assert(ids(spark.table("graft_stream_1")) === (1L to 5L).toSet)
      Snapshots.commit(spark, (6L to 8L).toDF("id"), base)
      q1.processAllAvailable()
      assert(ids(spark.table("graft_stream_1")) === (1L to 8L).toSet)
    } finally q1.stop()
    // restart against the SAME checkpoint: only data committed after the
    // checkpointed version arrives (SerializedOffset round trip). Memory
    // sinks refuse checkpoint recovery, so the restarted query collects
    // through foreachBatch.
    Snapshots.commit(spark, (9L to 10L).toDF("id"), base)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q2 = spark.readStream.format("graft").load(base)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => seen.add(r.getLong(0))); ()
      }.start()
    try {
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSet === Set(9L, 10L))
    } finally q2.stop()
  }

  test("batch incremental read: startingVersion without readChangeFeed") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_conn_incr")
    Snapshots.commit(spark, (1L to 5L).toDF("id"), base)   // v1
    Snapshots.commit(spark, (6L to 8L).toDF("id"), base)   // v2
    Snapshots.commit(spark, (9L to 10L).toDF("id"), base)  // v3
    val vs = Snapshots.versions(base).sorted
    def incr(opts: (String, String)*): Set[Long] = {
      var r = spark.read.format("graft")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      ids(r.load(base))
    }
    // rows committed AFTER v1 — the batch-ETL cursor surface
    assert(incr("startingVersion" -> vs(0).toString) === (6L to 10L).toSet)
    // a bounded window (after v1, up to v2]
    assert(incr("startingVersion" -> vs(0).toString,
      "endingVersion" -> vs(1).toString) === (6L to 8L).toSet)
    // after the head = empty
    assert(incr("startingVersion" -> vs.last.toString) === Set.empty)
    // column pruning + a filter compose through the diff scan
    assert(spark.read.format("graft").option("startingVersion", vs(0).toString)
      .load(base).filter(col("id") % 2 === 0).count() === 3)
    // guards: pins are mutually exclusive; endingVersion needs a start
    intercept[Exception] {
      spark.read.format("graft").option("startingVersion", vs(0).toString)
        .option("versionAsOf", vs(1).toString).load(base).collect()
    }
    intercept[Exception] {
      spark.read.format("graft").option("endingVersion", vs(1).toString)
        .load(base).collect()
    }
  }

  test("streaming source startingVersion: skip the initial snapshot") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_conn_stream_sv")
    Snapshots.commit(spark, (1L to 5L).toDF("id"), base)   // v1
    Snapshots.commit(spark, (6L to 8L).toDF("id"), base)   // v2
    val v1 = Snapshots.versions(base).sorted.head
    def drain(opts: Map[String, String]): Set[Long] = {
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      var r = spark.readStream.format("graft")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(base)
        .writeStream.option("checkpointLocation", tmpDir("graft_sv_ck"))
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(r.getLong(0))); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      seen.asScala.toSet
    }
    // numeric: only data committed AFTER v1 arrives (no initial snapshot)
    assert(drain(Map("startingVersion" -> v1.toString)) === (6L to 8L).toSet)
    // latest: nothing until a post-attach commit lands — drain twice
    // against one checkpoint
    val ckLatest = tmpDir("graft_sv_latest_ck")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def drainLatest(): Set[Long] = {
      seen.clear()
      val q = spark.readStream.format("graft")
        .option("startingVersion", "latest").load(base)
        .writeStream.option("checkpointLocation", ckLatest)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(r.getLong(0))); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      seen.asScala.toSet
    }
    assert(drainLatest() === Set.empty)
    Snapshots.commit(spark, Seq(9L).toDF("id"), base)
    assert(drainLatest() === Set(9L))
    // malformed refuses loudly
    intercept[Exception] {
      spark.readStream.format("graft").option("startingVersion", "nope")
        .load(base).writeStream
        .option("checkpointLocation", tmpDir("graft_sv_bad_ck"))
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .start().processAllAvailable()
    }
  }

  test("streaming source maxCommitsPerTrigger: backlog drains in bounded batches") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_conn_stream_adm")
    // a backlog of 6 commits before the consumer ever attaches
    (1L to 6L).foreach(i => Snapshots.commit(spark, Seq(i).toDF("id"), base))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    def drain(ck: String, opts: Map[String, String]): Seq[Set[Long]] = {
      batches.clear()
      var r = spark.readStream.format("graft")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(base)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          batches.add(b.collect().map(_.getLong(0)).toSet); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      batches.asScala.toSeq
    }
    // uncapped: the whole backlog lands in ONE initial-snapshot batch
    val plain = drain(tmpDir("graft_adm_ck0"), Map.empty)
    assert(plain.map(_.size).sum === 6 && plain.count(_.nonEmpty) === 1)
    // capped at 2 commits/trigger: the same backlog drains in bounded
    // steps — every batch carries at most 2 commits' rows — with nothing
    // lost and nothing duplicated
    val ck = tmpDir("graft_adm_ck1")
    val capped = drain(ck, Map("maxCommitsPerTrigger" -> "2"))
    assert(capped.flatten.toSet === (1L to 6L).toSet, "no loss, no dup")
    assert(capped.forall(_.size <= 2), s"batch exceeded cap: $capped")
    assert(capped.count(_.nonEmpty) >= 3, s"expected >=3 bounded batches: $capped")
    // restart with new commits: admission resumes from the checkpoint
    (7L to 9L).foreach(i => Snapshots.commit(spark, Seq(i).toDF("id"), base))
    val resumed = drain(ck, Map("maxCommitsPerTrigger" -> "1"))
    assert(resumed.flatten.toSet === (7L to 9L).toSet)
    assert(resumed.forall(_.size <= 1))
    // guard: malformed / non-positive caps refuse loudly
    intercept[Exception] {
      spark.readStream.format("graft").option("maxCommitsPerTrigger", "0")
        .load(base).writeStream
        .option("checkpointLocation", tmpDir("graft_adm_ck2"))
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .start().processAllAvailable()
    }
  }

  test("streaming source skipOverwrites: mid-stream compact re-delivers nothing") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_conn_stream_skip")
    Snapshots.commit(spark, (1L to 5L).toDF("id"), base)
    // Many tiny files so compact genuinely rewrites the live set
    (6L to 9L).foreach(i => Snapshots.commit(spark, Seq(i).toDF("id"), base))
    val counts = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def drain(skip: Boolean, ck: String): Set[Long] = {
      counts.clear()
      val q = spark.readStream.format("graft")
        .option("skipOverwrites", skip.toString).load(base)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => counts.add(r.getLong(0))); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      counts.asScala.toSet
    }
    val (ckSkip, ckPlain) = (tmpDir("graft_skip_ck1"), tmpDir("graft_skip_ck2"))
    assert(drain(skip = true, ckSkip) === (1L to 9L).toSet)
    assert(drain(skip = false, ckPlain) === (1L to 9L).toSet)
    // compact mid-stream, then append one genuinely new commit
    Snapshots.compact(spark, base, numFiles = 1)
    Snapshots.commit(spark, Seq(10L).toDF("id"), base)
    // skipOverwrites: only the new row arrives - the compacted rewrite of
    // 1..9 is not re-delivered
    assert(drain(skip = true, ckSkip) === Set(10L))
    // the plain diff (the default) re-delivers rewritten content - the
    // documented behavior skipOverwrites exists to opt out of
    assert(drain(skip = false, ckPlain) === (1L to 10L).toSet)
    // guard: skipOverwrites composes only with the append feed
    val qBad = spark.readStream.format("graft").option("skipOverwrites", "true")
      .option("readChangeFeed", "true").load(base)
      .writeStream.option("checkpointLocation", tmpDir("graft_skip_ck3"))
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    try {
      val e = intercept[Exception] { qBad.processAllAvailable() }
      assert(e.getMessage.contains("skipOverwrites"))
    } finally qBad.stop()
  }

  test("NDV sketches: stats table exposes ndv; CBO broadcasts the low-NDV aggregate") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("graft_conn_ndv")
    val (withNdv, noNdv) = (s"$root/a", s"$root/b")
    val data = spark.range(4000)
      .select(col("id").as("k"), (col("id") % 3).as("g"))
    Snapshots.commit(spark, data, withNdv)
    Snapshots.commit(spark, data, noNdv)
    dropSketches(noNdv, ndv = true)
    // stats table: per-file ndv column present and sane (HLL ±2% envelope)
    val st = Snapshots.statsTable(spark, withNdv)
    assert(st.columns.contains("ndv"))
    val gNdv = st.filter(col("column") === "g").select("ndv").collect().map(_.getLong(0))
    assert(gNdv.nonEmpty && gNdv.forall(_ === 3L))
    // merged table-level estimates
    val merged = Snapshots.scanNdv(withNdv)
    assert(merged("g") === 3L)
    assert(math.abs(merged("k") - 4000L) <= 200L)
    assert(Snapshots.scanNdv(noNdv).isEmpty) // the twin carries no sketches
    // CBO join planning: GROUP BY g estimates 3 output rows only when the
    // scan reports g's distinct count — that side then sizes under the
    // broadcast threshold. The sketch-less twin table estimates the
    // aggregate at child scale and stays on the sort-merge plan: the NDV
    // is precisely what flips the build-side decision, no hint anywhere.
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10240")
    try {
      def planOf(base: String): String = {
        val t = spark.read.format("graft").load(base)
        t.join(t.groupBy("g").agg(org.apache.spark.sql.functions.sum("k").as("s")), "g")
          .queryExecution.executedPlan.toString
      }
      assert(planOf(withNdv).contains("BroadcastHashJoin"))
      assert(!planOf(noNdv).contains("BroadcastHashJoin"))
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("histograms: skewed range estimate within 2x of truth; join plan flips") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions.{col, lit, when}
    val root = tmpDir("graft_conn_hist")
    val (withHist, noHist) = (s"$root/a", s"$root/b")
    // heavy skew: 99% of rows in [0, 8), 1% spread over [2^21, ~2^30) —
    // the shape where uniformity over [min, max] is off by orders of
    // magnitude for a range predicate
    val data = spark.range(100000).select(col("id"),
      when(col("id") < 99000, col("id") % 8)
        .otherwise(lit(2097152L) + (col("id") - 99000L) * 500000L).as("v"))
    Snapshots.commit(spark, data, withHist)
    Snapshots.commit(spark, data, noHist)
    dropSketches(noHist, hist = true)
    // merged counts: fixed log2 boundaries sum across files; the head
    // mass sits in buckets 0..3, the tail above bucket 21
    val counts = Snapshots.scanHistograms(withHist)("v")
    assert(counts.filter(_._1 <= 3).values.sum === 99000L)
    assert(counts.filter(_._1 >= 22).values.sum === 1000L)
    assert(Snapshots.scanHistograms(noHist).isEmpty) // the twin carries none
    val truth = data.filter(col("v") > 1048576L).count() // = 1000
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (100 * 1024).toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def est(base: String): BigInt = {
        val st = spark.read.format("graft").load(base)
          .filter(col("v") > 1048576L)
          .queryExecution.optimizedPlan.stats
        st.rowCount.getOrElse(BigInt(-1))
      }
      // histogram: estimate within 2x of truth either way
      val eH = est(withHist)
      assert(eH >= truth / 2 && eH <= truth * 2,
        s"histogram estimate $eH vs truth $truth")
      // histogram-less twin: uniformity misestimates by more than 10x
      val eN = est(noHist)
      assert(eN > truth * 10, s"twin estimate $eN vs truth $truth")
      // ...and the misestimate is a PLAN choice: the filtered side sizes
      // under the broadcast threshold only with the histogram
      def joinPlan(base: String): String = {
        val dim = spark.range(200000).select(col("id"), (col("id") * 3).as("w"))
        spark.read.format("graft").load(base).filter(col("v") > 1048576L)
          .join(dim, "id").queryExecution.sparkPlan.toString
      }
      assert(joinPlan(withHist).contains("BroadcastHashJoin"))
      assert(joinPlan(noHist).contains("SortMergeJoin"))
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("collect_stats backfills NDV sketches for stats-disabled and adopted data") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("graft_conn_analyze")
    val (legacy, adopted, foreignDir) = (s"$root/legacy", s"$root/adopted", s"$root/producer")
    val data = spark.range(1000).select(col("id").as("k"), (col("id") % 5).as("g"))
    // a table whose sidecars predate NDV sketches
    Snapshots.commit(spark, data, legacy)
    dropSketches(legacy, ndv = true)
    assert(Snapshots.scanNdv(legacy).isEmpty)
    assert(Snapshots.collectStats(spark, legacy) === 1L)
    assert(Snapshots.scanNdv(legacy)("g") === 5L)
    // idempotent: nothing missing -> nothing rewritten
    assert(Snapshots.collectStats(spark, legacy) === 0L)
    // adopted foreign files: no sidecar at all until include_foreign
    data.write.parquet(foreignDir)
    Snapshots.addFiles(spark, adopted, Seq(foreignDir))
    assert(Snapshots.scanNdv(adopted).isEmpty)
    assert(Snapshots.collectStats(spark, adopted) === 0L) // foreign dirs skipped by default
    assert(Snapshots.collectStats(spark, adopted, includeForeign = true) === 1L)
    assert(Snapshots.scanNdv(adopted)("g") === 5L)
    // the backfilled min/max also restore planning-time pruning on the
    // adopted tree: a no-match predicate now reads zero files
    assert(Snapshots.readWhere(spark, adopted, col("k") === 999999L).count() === 0L)
  }

  test("count(*) pushes to manifest metadata; row-level deletes fall back") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions.col
    val base = tmpDir("graft_conn_count")
    Snapshots.commit(spark, (1L to 100L).map(i => (i, i * 2L)).toDF("k", "v"), base)
    Snapshots.commit(spark, (101L to 130L).map(i => (i, i * 2L)).toDF("k", "v"), base)
    // a null-bearing tail: count(v) = rows − nulls rides the same
    // metadata path (parquet null counts are exact for any type)
    Snapshots.commit(spark,
      (131L to 140L).map(i => (i, null.asInstanceOf[java.lang.Long])).toDF("k", "v"),
      base)
    def table = spark.read.format("graft").load(base)
    assert(table.count() === 140L)
    // THE proof of zero data IO: physically remove a data file — the
    // metadata count still answers, while any data-touching query fails
    val victim = new java.io.File(
      Snapshots.liveFiles(base, Snapshots.versions(base).max).head)
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    java.nio.file.Files.delete(victim.toPath)
    try {
      assert(table.count() === 140L, "metadata count must not open data files")
      // min/max on BIGINT columns and count(col) = rows − nulls ride the
      // same metadata path, including mixed with count(*)
      val r = table.agg(
        org.apache.spark.sql.functions.min("k"),
        org.apache.spark.sql.functions.max("v"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.count(col("v"))).head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
        ((1L, 260L, 140L, 130L)))
      intercept[Exception] { table.agg(org.apache.spark.sql.functions.sum("v")).head() }
      // count(DISTINCT v) is NOT metadata-answerable — it must touch data
      // and therefore fail while the file is missing
      intercept[Exception] {
        table.agg(org.apache.spark.sql.functions.countDistinct(col("v"))).head()
      }
    } finally java.nio.file.Files.write(victim.toPath, bytes)
    // a filter forces the real scan (correct, not metadata)
    assert(table.filter(col("k") <= 10L).count() === 10L)
    // outstanding row-level deletes make metadata inexact -> fallback
    Snapshots.deleteWhereDV(spark, base, col("k") === 1L)
    assert(table.count() === 139L)
    Snapshots.deleteByKeys(spark, base, Seq(2L).toDF("k"))
    assert(table.count() === 138L)
    // compaction materializes the deletes; the metadata path returns
    Snapshots.compact(spark, base, numFiles = 1)
    assert(table.count() === 138L)
    assert(table.queryExecution.optimizedPlan.toString.nonEmpty) // plan sanity
  }

  test("rename-era name reuse refuses: aliasing two physical columns is unrepresentable") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions.col
    val base = tmpDir("graft_conn_alias")
    // era 1: a = small ints, b = big ints, one file
    Snapshots.commit(spark,
      (1L to 100L).map(i => (i, 1000L + i)).toDF("a", "b").repartition(1), base)
    // the alias chain (a → tmp; b → a) would make "a" denote the ORIGINAL
    // b while era-1 files still carry a DIFFERENT physical column named
    // "a" — Spark's parquet row-group pushdown matches by name, so an
    // era-mixed scan would skip row groups using the wrong column's
    // stats. The second rename therefore REFUSES while stale bytes live.
    Snapshots.renameColumn(base, "a", "tmp")
    val e = intercept[IllegalStateException] {
      Snapshots.renameColumn(base, "b", "a")
    }
    assert(e.getMessage.contains("earlier schema era"))
    // renaming BACK to a name the column's own bytes carry is legitimate
    // (same field id) and allowed
    Snapshots.renameColumn(base, "tmp", "a")
    assert(spark.read.format("graft").load(base)
      .filter(col("a") <= 10L).count() === 10L)
    // compact rewrites under the current era and retires the stale
    // bytes; the previously-refused reclamation then succeeds
    Snapshots.renameColumn(base, "a", "tmp2")
    Snapshots.compact(spark, base, numFiles = 1)
    Snapshots.renameColumn(base, "b", "a")
    val got = spark.read.format("graft").load(base)
      .filter(col("a") > 1050L).count()
    assert(got === 50L)
  }

  test("FileStats.prune id guard: era-mismatched stats never prune a file") {
    val sess = spark
    import sess.implicits._
    // defense in depth below the DDL-level refusal (hand-built trees,
    // adopted files): a sidecar whose recorded field id conflicts with
    // the current era must not prune
    val dir = new java.io.File(tmpDir("graft_prune_idguard"))
    dir.mkdirs()
    // attach an explicit parquet field id so the footer (and sidecar)
    // carry it, like any id-tracked table's files
    val idMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", 4L).build()
    val withId = (1L to 100L).toDF("a").repartition(1)
      .select(col("a").as("a", idMeta))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    withId.write.mode("overwrite").parquet(dir.toString)
    val files = dir.listFiles.filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    val conf = spark.sparkContext.hadoopConfiguration
    FileStats.writeSidecar(conf, new org.apache.hadoop.fs.Path(dir.toString), files)
    import org.apache.spark.sql.sources.GreaterThan
    // without an id expectation the [1,100] stats prune a > 1000
    assert(FileStats.prune(conf, files, Seq(GreaterThan("a", 1000L))).isEmpty)
    // matching era id: still prunes. Spark writes field ids from 0 for
    // plain parquet writes; read the recorded id back and expect it.
    val recorded = FileStats.readSidecar(conf,
      new org.apache.hadoop.fs.Path(dir.toString)).get
      .values.head.cols("a").id
    recorded.foreach { id =>
      assert(FileStats.prune(conf, files, Seq(GreaterThan("a", 1000L)),
        Map("a" -> id)).isEmpty)
      // mismatched era id: the stats are another column's — file kept
      assert(FileStats.prune(conf, files, Seq(GreaterThan("a", 1000L)),
        Map("a" -> (id + 7))) === files)
    }
    assert(recorded.isDefined, "plain Spark parquet writes should carry field ids")
  }

  test("streaming sink upsertMode=eq: keyed upserts with zero target scans") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_conn_equp")
    val src = tmpDir("graft_conn_equp_src")
    def push(rows: (Long, Long)*): Unit = {
      Snapshots.commit(spark, rows.toDF("k", "v"), src)
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("path", base).option("mergeKeys", "k").option("upsertMode", "eq")
        .option("checkpointLocation", src + "_ck").outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
    }
    push((1L, 10L), (2L, 20L))
    push((2L, 222L), (3L, 30L))
    val got = spark.read.format("graft").load(base)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 10L, 2L -> 222L, 3L -> 30L))
    // physics: the second batch upserted via an equality delete (merge-eq
    // commit), and the first batch's data files were never rewritten
    val modes = Snapshots.versions(base).map(v => Snapshots.modeOf(base, v))
    assert(modes.exists(_.startsWith("merge-eq:")))
    // auto-maintenance composes with the sink: with the fold bound set,
    // continued eq-upsert batches leave at most bound-many outstanding
    // batches (the writer folds them into one DV) and state stays exact
    graft.connector.TableProps.write(base,
      Map(graft.connector.TableProps.EqDeleteMaxBatches -> "1"))
    push((1L, 11L), (4L, 40L))
    push((4L, 444L), (5L, 50L))
    val got2 = spark.read.format("graft").load(base)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === Map(1L -> 11L, 2L -> 222L, 3L -> 30L, 4L -> 444L, 5L -> 50L))
    // the sink's batch that pushed outstanding eq debt past the bound
    // folded it (an eq-convert commit appears), and the head never holds
    // more than one outstanding batch's worth of sidecar files
    val modes2 = Snapshots.versions(base).map(v => Snapshots.modeOf(base, v))
    assert(modes2.contains("eq-convert"), modes2.mkString(","))
    assert(Snapshots.history(spark, base)
      .orderBy(org.apache.spark.sql.functions.col("version").desc)
      .select("n_eqs").head().getLong(0) <= 4L) // <= one batch (4 shuffle parts)
  }

  test("batch change feed: readChangeFeed replays inserts and deletes with windows") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_conn_cdc")
    val v1 = Snapshots.commit(spark,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), base)
    val v2 = Snapshots.deleteWhereDV(spark, base, org.apache.spark.sql.functions.col("k") === 2L)
    val v3 = Snapshots.upsertByKeys(spark, base,
      Seq((3L, 333L), (4L, 40L)).toDF("k", "v"), Seq("k"))
    def feed(opts: (String, String)*) = {
      val r = spark.read.format("graft").option("readChangeFeed", "true")
      opts.foreach { case (k, x) => r.option(k, x) }
      r.load(base)
        .select("_commit_version", "_change_type", "k", "v").collect()
        .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3))).toSet
    }
    val full = feed()
    assert(full === Set(
      (v1, "insert", 1L, 10L), (v1, "insert", 2L, 20L), (v1, "insert", 3L, 30L),
      (v2, "delete", 2L, 20L),
      (v3, "insert", 3L, 333L), (v3, "insert", 4L, 40L), (v3, "delete", 3L, 30L)))
    // inclusive startingVersion/endingVersion window
    assert(feed("startingVersion" -> v2.toString, "endingVersion" -> v2.toString) ===
      Set((v2, "delete", 2L, 20L)))
    // startingVersion WITHOUT readChangeFeed is the plain incremental
    // read (rows only, no CDC columns) — covered by its own test; here
    // just pin that it resolves to the table's own schema
    assert(spark.read.format("graft").option("startingVersion", v1.toString)
      .load(base).columns.toSet.intersect(
        Set("_change_type", "_commit_version")) === Set.empty)
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("versionAsOf", v1.toString).load(base).collect()
    }
    // metadata-column collision: a table already owning _commit_ts would
    // have its column silently replaced by the feed's stamp — refuse
    val clashBase = tmpDir("graft_conn_cdc_clash")
    Snapshots.commit(spark, Seq((1L, 5L)).toDF("k", "_commit_ts"), clashBase)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .load(clashBase).collect()
    }
    assert(e.getMessage.contains("_commit_ts"))
  }

  test("streaming change feed: per-commit CDC batches incl. deletes") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_conn_cdc_stream")
    val v1 = Snapshots.commit(spark,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), base)
    val rows = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, String, Long, Long)]()
    val q = spark.readStream.format("graft").option("readChangeFeed", "true")
      .load(base)
      .writeStream.option("checkpointLocation", tmpDir("graft_conn_cdc_stream_ck"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("_commit_version", "_change_type", "k", "v").collect()
          .foreach(r => rows.add((r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))))
        ()
      }.start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(rows.asScala.toSet ===
        Set((v1, "insert", 1L, 10L), (v1, "insert", 2L, 20L)))
      val v2 = Snapshots.deleteByKeys(spark, base, Seq(1L).toDF("k"))
      q.processAllAvailable()
      assert(rows.asScala.toSet ===
        Set((v1, "insert", 1L, 10L), (v1, "insert", 2L, 20L),
          (v2, "delete", 1L, 10L)))
    } finally q.stop()
  }
}
