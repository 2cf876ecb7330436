package graft

import org.apache.spark.sql.functions._
import graft.ingest.Snapshots

/** The `GraftCatalog` TableCatalog plugin: the snapshot table layer
  * driven entirely from SQL — DDL, DML, time travel, schema evolution,
  * metadata tables. Every assertion here runs through `spark.sql` (no
  * Scala-API shortcuts) because the catalog's whole point is that a SQL
  * user never needs the Scala surface.
  */
class CatalogSpec extends SparkSuite {

  /** One catalog (fresh warehouse) shared by the suite; registered
    * lazily on the shared session — catalog lookup reads runtime conf.
    */
  private lazy val cat: String = {
    val wh = tmpDir("graft_catalog_wh")
    spark.conf.set("spark.sql.catalog.gcat", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    "gcat"
  }

  private def rows(sql: String): Seq[Seq[Any]] =
    spark.sql(sql).collect().toSeq.map(_.toSeq)

  test("namespace + table DDL, INSERT, SELECT round trip") {
    spark.sql(s"CREATE NAMESPACE $cat.sales")
    spark.sql(s"CREATE TABLE $cat.sales.orders (id BIGINT, amount DOUBLE, region STRING)")
    // created-but-empty table reads as zero rows with the declared schema
    assert(spark.table(s"$cat.sales.orders").count() === 0)
    assert(spark.table(s"$cat.sales.orders").columns.toSeq ===
      Seq("id", "amount", "region"))
    spark.sql(s"INSERT INTO $cat.sales.orders VALUES " +
      "(1, 10.5, 'EU'), (2, 20.0, 'US'), (3, 7.25, 'EU')")
    assert(rows(s"SELECT count(*), round(sum(amount), 2) FROM $cat.sales.orders").head ===
      Seq(3L, 37.75))
    // SHOW TABLES sees it; SHOW NAMESPACES sees the namespace
    assert(rows(s"SHOW TABLES IN $cat.sales").map(_(1)).contains("orders"))
    assert(rows(s"SHOW NAMESPACES IN $cat").map(_.head).contains("sales"))
  }

  test("CTAS, INSERT OVERWRITE, and DROP TABLE") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ctas")
    spark.sql(s"CREATE TABLE $cat.ctas.squares AS " +
      "SELECT id, id * id AS sq FROM range(5)")
    assert(rows(s"SELECT sum(sq) FROM $cat.ctas.squares").head === Seq(30L))
    spark.sql(s"INSERT OVERWRITE $cat.ctas.squares " +
      "SELECT id, id * id AS sq FROM range(3)")
    assert(rows(s"SELECT count(*), sum(sq) FROM $cat.ctas.squares").head === Seq(3L, 5L))
    spark.sql(s"DROP TABLE $cat.ctas.squares")
    assert(!spark.catalog.tableExists(s"$cat.ctas.squares"))
  }

  test("VERSION AS OF: versions, tags and branches from SQL") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tt")
    spark.sql(s"CREATE TABLE $cat.tt.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.tt.t VALUES (1), (2)")   // v2
    spark.sql(s"INSERT INTO $cat.tt.t VALUES (3)")        // v3
    val base = tableBase("tt", "t")
    val vs = Snapshots.versions(base).sorted
    assert(vs.size === 3)
    assert(rows(s"SELECT count(*) FROM $cat.tt.t VERSION AS OF ${vs(1)}").head === Seq(2L))
    assert(rows(s"SELECT count(*) FROM $cat.tt.t").head === Seq(3L))
    // a tag pins a version by name, readable from SQL
    Snapshots.tag(base, "golden", vs(1))
    assert(rows(s"SELECT count(*) FROM $cat.tt.t VERSION AS OF 'golden'").head === Seq(2L))
    // a branch head resolves through the same clause
    Snapshots.createBranch(base, "audit")
    Snapshots.commitToBranch(spark,
      spark.range(10).select(col("id").as("k")), base, "audit")
    assert(rows(s"SELECT count(*) FROM $cat.tt.t VERSION AS OF 'audit'").head === Seq(13L))
    // main stays isolated from the branch append
    assert(rows(s"SELECT count(*) FROM $cat.tt.t").head === Seq(3L))
    // an all-digit TAG naming no existing snapshot version still resolves
    // as a tag (the numeric path only wins when the version exists)
    Snapshots.tag(base, "999", vs(1))
    assert(rows(s"SELECT count(*) FROM $cat.tt.t VERSION AS OF '999'").head === Seq(2L))
    // degenerate digit strings get the descriptive error, not a raw
    // NumberFormatException
    val e = intercept[Exception] {
      rows(s"SELECT count(*) FROM $cat.tt.t VERSION AS OF '99999999999999999999'")
    }
    assert(e.getMessage.contains("neither a snapshot version"))
  }

  test("TIMESTAMP AS OF resolves the newest version at that instant") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ts")
    spark.sql(s"CREATE TABLE $cat.ts.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.ts.t VALUES (1)")
    val afterV2 = System.currentTimeMillis()
    Thread.sleep(1100)
    spark.sql(s"INSERT INTO $cat.ts.t VALUES (2)")
    val tsLit = new java.sql.Timestamp(afterV2).toInstant.toString
    assert(rows(s"SELECT count(*) FROM $cat.ts.t TIMESTAMP AS OF '$tsLit'").head === Seq(1L))
    assert(rows(s"SELECT count(*) FROM $cat.ts.t").head === Seq(2L))
    // an instant before the table existed fails loudly
    val tooEarly = java.time.Instant.ofEpochMilli(1000L).toString
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $cat.ts.t TIMESTAMP AS OF '$tooEarly'").collect()
    }
  }

  test("ALTER TABLE ADD/RENAME/DROP COLUMN ride field-id evolution") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev.t (a BIGINT, b STRING)")
    spark.sql(s"INSERT INTO $cat.ev.t VALUES (1, 'x'), (2, 'y')")
    // rename: old files bind the new name by field id
    spark.sql(s"ALTER TABLE $cat.ev.t RENAME COLUMN a TO key")
    assert(rows(s"SELECT sum(key) FROM $cat.ev.t").head === Seq(3L))
    // add: existing rows null-fill, new writes carry it
    spark.sql(s"ALTER TABLE $cat.ev.t ADD COLUMN score DOUBLE")
    spark.sql(s"INSERT INTO $cat.ev.t VALUES (3, 'z', 9.5)")
    assert(rows(s"SELECT count(*), count(score), sum(score) FROM $cat.ev.t").head ===
      Seq(3L, 1L, 9.5))
    // drop: the column leaves the schema; pre-drop data still time-travels
    spark.sql(s"ALTER TABLE $cat.ev.t DROP COLUMN b")
    assert(spark.table(s"$cat.ev.t").columns.toSeq === Seq("key", "score"))
    val base = tableBase("ev", "t")
    val preDrop = Snapshots.versions(base).sorted.takeRight(2).head
    assert(rows(s"SELECT count(b) FROM $cat.ev.t VERSION AS OF $preDrop").head === Seq(3L))
  }

  test("DELETE FROM is a merge-on-read DV delete; TRUNCATE keeps history") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.del")
    spark.sql(s"CREATE TABLE $cat.del.t AS SELECT id FROM range(100)")
    spark.sql(s"DELETE FROM $cat.del.t WHERE id >= 90")
    assert(rows(s"SELECT count(*), max(id) FROM $cat.del.t").head === Seq(90L, 89L))
    val base = tableBase("del", "t")
    // the delete must be metadata-only: head version carries a DV, and
    // the data file list is unchanged from the pre-delete version
    val vs = Snapshots.versions(base).sorted
    assert(Snapshots.modeOf(base, vs.last).startsWith("delete-dv"))
    assert(Snapshots.liveFiles(base, vs.last).toSet ===
      Snapshots.liveFiles(base, vs(vs.size - 2)).toSet)
    spark.sql(s"TRUNCATE TABLE $cat.del.t")
    assert(rows(s"SELECT count(*) FROM $cat.del.t").head === Seq(0L))
    assert(rows(s"SELECT count(*) FROM $cat.del.t VERSION AS OF ${vs.last}").head === Seq(90L))
  }

  test("metadata tables: history, files, stats, tags, branches") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.meta")
    spark.sql(s"CREATE TABLE $cat.meta.t AS SELECT id FROM range(10)")
    spark.sql(s"INSERT INTO $cat.meta.t SELECT id FROM range(10, 30)")
    val base = tableBase("meta", "t")
    Snapshots.tag(base, "release", Snapshots.versions(base).max)
    Snapshots.createBranch(base, "wip")
    // three versions: the CREATE's empty schema commit + CTAS append + insert
    val hist = spark.table(s"$cat.meta.t.history")
    // two versions: the atomic CTAS commit (schema + data in one
    // rtas-create publish) + the insert
    assert(hist.count() === 2 &&
      hist.columns.toSeq.take(3) === Seq("version", "parent", "mode"))
    assert(spark.table(s"$cat.meta.t.files")
      .agg(count(lit(1)), sum(when(col("size_bytes") > 0, 1L).otherwise(0L)))
      .collect().head.toSeq.forall(_ != 0L))
    // stats carry per-file min/max for id — pruning's introspection view
    val stats = spark.table(s"$cat.meta.t.stats")
      .filter(col("column") === "id")
    assert(stats.count() >= 2)
    assert(rows(s"SELECT tag, version FROM $cat.meta.t.tags").head.head === "release")
    assert(rows(s"SELECT branch FROM $cat.meta.t.branches").head === Seq("wip"))
    // persisted table properties surface as rows
    spark.sql(s"ALTER TABLE $cat.meta.t SET TBLPROPERTIES('write.check.pos' = 'id >= 0')")
    assert(rows(s"SELECT value FROM $cat.meta.t.properties WHERE key = 'write.check.pos'")
      .head === Seq("id >= 0"))
    // a table named like a metadata suffix still loads as a real table
    spark.sql(s"CREATE TABLE $cat.meta.history AS SELECT id FROM range(7)")
    assert(rows(s"SELECT count(*) FROM $cat.meta.history").head === Seq(7L))
  }

  test("metadata table t.changes replays the change feed from SQL") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cdc")
    spark.sql(s"CREATE TABLE $cat.cdc.t AS SELECT id FROM range(5)")
    spark.sql(s"INSERT INTO $cat.cdc.t SELECT id FROM range(5, 8)")
    spark.sql(s"DELETE FROM $cat.cdc.t WHERE id = 1")
    val feed = rows(s"SELECT _change_type, id FROM $cat.cdc.t.changes")
      .map(r => (r.head, r(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(feed("insert") === (0L until 8L).toSet)
    assert(feed("delete") === Set(1L))
    // versions are attributed and monotone
    val vs = rows(s"SELECT DISTINCT _commit_version FROM $cat.cdc.t.changes")
      .map(_.head.asInstanceOf[Long]).sorted
    assert(vs.size >= 3)
  }

  test("RENAME TABLE moves the snapshot tree; catalog stays consistent") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.mv1")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.mv2")
    spark.sql(s"CREATE TABLE $cat.mv1.src AS SELECT id FROM range(12)")
    // the rename TARGET is catalog-relative (Spark hands it through
    // unresolved — same SQL convention as Iceberg's SparkCatalog)
    spark.sql(s"ALTER TABLE $cat.mv1.src RENAME TO mv2.dst")
    assert(!spark.catalog.tableExists(s"$cat.mv1.src"))
    assert(rows(s"SELECT count(*) FROM $cat.mv2.dst").head === Seq(12L))
    // history (and time travel) survived the move (atomic CTAS = one
    // rtas-create commit)
    assert(spark.table(s"$cat.mv2.dst.history").count() === 1)
  }

  test("table properties persist through CREATE and ALTER") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.props")
    spark.sql(s"CREATE TABLE $cat.props.t (k BIGINT) TBLPROPERTIES ('owner.team' = 'data')")
    def props(): Map[String, String] =
      rows(s"SHOW TBLPROPERTIES $cat.props.t")
        .map(r => r(0).toString -> r(1).toString).toMap
    assert(props().get("owner.team") === Some("data"))
    spark.sql(s"ALTER TABLE $cat.props.t SET TBLPROPERTIES ('tier' = 'gold')")
    assert(props().get("tier") === Some("gold"))
    spark.sql(s"ALTER TABLE $cat.props.t UNSET TBLPROPERTIES ('owner.team')")
    assert(!props().contains("owner.team"))
  }

  test("ADD COLUMN after dropping the highest-id column never reuses its id") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.fid")
    spark.sql(s"CREATE TABLE $cat.fid.t (a BIGINT, b STRING)")
    spark.sql(s"INSERT INTO $cat.fid.t VALUES (1, 'old-b1'), (2, 'old-b2')")
    spark.sql(s"ALTER TABLE $cat.fid.t DROP COLUMN b")
    // same type as the dropped column: id reuse would SILENTLY resurrect
    // b's bytes instead of null-filling (the observable worst case)
    spark.sql(s"ALTER TABLE $cat.fid.t ADD COLUMN c STRING")
    val got = spark.table(s"$cat.fid.t").orderBy("a").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(got === Seq(1L -> None, 2L -> None))
    spark.sql(s"INSERT INTO $cat.fid.t VALUES (3, 'new-c')")
    assert(rows(s"SELECT count(c) FROM $cat.fid.t").head === Seq(1L))
  }

  test("DDL guards: duplicate create, missing table, non-empty namespace") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.guard")
    spark.sql(s"CREATE TABLE $cat.guard.t (k BIGINT)")
    intercept[Exception] { spark.sql(s"CREATE TABLE $cat.guard.t (k BIGINT)") }
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.guard.t (k BIGINT)") // no-op, no throw
    intercept[Exception] { spark.table(s"$cat.guard.nope").collect() }
    intercept[Exception] { spark.sql(s"DROP NAMESPACE $cat.guard") }
    spark.sql(s"DROP NAMESPACE $cat.guard CASCADE")
    assert(!spark.catalog.tableExists(s"$cat.guard.t"))
  }

  test("CALL procedures: compact, tag, rollback, expire") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.proc")
    spark.sql(s"CREATE TABLE $cat.proc.t AS SELECT id FROM range(1000)")
    spark.sql(s"INSERT INTO $cat.proc.t SELECT id FROM range(1000, 2000)")
    val base = tableBase("proc", "t")
    val preFiles = Snapshots.liveFiles(base, Snapshots.versions(base).max).size
    // compact into 1 file, published as a new version the reads pick up
    val v = rows(s"CALL $cat.system.compact(table => 'proc.t', num_files => 1)").head.head
    assert(v === Snapshots.versions(base).max)
    assert(Snapshots.liveFiles(base, Snapshots.versions(base).max).size === 1)
    assert(preFiles > 1)
    assert(rows(s"SELECT count(*) FROM $cat.proc.t").head === Seq(2000L))
    // tag the compacted version, roll back to the PRE-insert state, verify
    rows(s"CALL $cat.system.create_tag(table => 'proc.t', name => 'tidy')")
    val v2 = Snapshots.versions(base).min // the atomic CTAS commit
    rows(s"CALL $cat.system.rollback(table => 'proc.t', version => $v2)")
    assert(rows(s"SELECT count(*) FROM $cat.proc.t").head === Seq(1000L))
    // expire everything but the head; the tagged version must survive
    val kept = rows(s"CALL $cat.system.expire(table => 'proc.t', keep_last => 1)").head.head
    assert(rows(s"SELECT count(*) FROM $cat.proc.t VERSION AS OF 'tidy'").head === Seq(2000L))
    assert(kept.asInstanceOf[Long] >= 2L) // head + tagged
    // positional form works too; unknown procedure fails loudly
    assert(rows(s"CALL $cat.system.compact('proc.t', 2)").head.head ===
      Snapshots.versions(base).max)
    intercept[Exception] { spark.sql(s"CALL $cat.system.nope('proc.t')") }
    // equality deletes fold to one DV from SQL; rows unchanged after
    spark.sql(s"DELETE FROM $cat.proc.t WHERE id = 0") // a DV beside the eqs
    Snapshots.deleteByKeys(spark, base, spark.range(1, 3).toDF("id"))
    val n = rows(s"SELECT count(*) FROM $cat.proc.t").head.head
    rows(s"CALL $cat.system.convert_eq_deletes(table => 'proc.t')")
    assert(rows(s"SELECT count(*) FROM $cat.proc.t").head.head === n)
    assert(rows(s"SELECT n_eqs FROM $cat.proc.t.history " +
      "ORDER BY version DESC LIMIT 1").head === Seq(0L))
    // collect_stats from SQL: the stats table then exposes per-file NDV
    rows(s"CALL $cat.system.collect_stats(table => 'proc.t')")
    assert(rows(s"SELECT count(*) FROM $cat.proc.t.stats WHERE ndv IS NOT NULL")
      .head.head.asInstanceOf[Long] > 0L)
    // predicate-scoped rewrite from SQL: rows unchanged afterwards
    val nBefore = rows(s"SELECT count(*) FROM $cat.proc.t").head.head
    rows(s"CALL $cat.system.compact(table => 'proc.t', num_files => 1, " +
      "where => 'id < 10')")
    assert(rows(s"SELECT count(*) FROM $cat.proc.t").head.head === nBefore)
    // CHECK constraint declared from SQL gates INSERTs through the catalog
    spark.sql(s"ALTER TABLE $cat.proc.t SET TBLPROPERTIES" +
      "('write.check.nonneg' = 'id >= 0')")
    spark.sql(s"INSERT INTO $cat.proc.t VALUES (12345)")
    val eChk = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.proc.t VALUES (-1)")
    }
    assert(eChk.getMessage.contains("nonneg"))
    // zero-copy adoption of a foreign parquet directory from SQL
    val foreign = tmpDir("graft_call_adopt")
    spark.range(40).toDF("id").write.mode("overwrite").parquet(foreign)
    rows(s"CALL $cat.system.add_files(table => 'proc.adopted', source_path => '$foreign')")
    assert(rows(s"SELECT count(*), min(id), max(id) FROM $cat.proc.adopted").head ===
      Seq(40L, 0L, 39L))
  }

  test("CALL procedures: branch lifecycle and orphan sweep from SQL") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.proc2")
    spark.sql(s"CREATE TABLE $cat.proc2.t AS SELECT id FROM range(100)")
    val base = tableBase("proc2", "t")
    spark.sql(s"INSERT INTO $cat.proc2.t VALUES (999)") // lands on main
    rows(s"CALL $cat.system.create_branch(table => 'proc2.t', name => 'audit')")
    Snapshots.commitToBranch(spark,
      spark.range(100, 200).toDF("id"), base, "audit")
    // main does not see the staged rows until fast_forward publishes
    assert(rows(s"SELECT count(*) FROM $cat.proc2.t").head === Seq(101L))
    rows(s"CALL $cat.system.fast_forward(table => 'proc2.t', branch => 'audit')")
    assert(rows(s"SELECT count(*) FROM $cat.proc2.t").head === Seq(201L))
    rows(s"CALL $cat.system.drop_branch(table => 'proc2.t', name => 'audit')")
    assert(spark.table(s"$cat.proc2.t.branches").count() === 0)
    // orphan sweep with zero grace removes nothing here (all files live)
    val removed = rows(s"CALL $cat.system.remove_orphans(table => 'proc2.t', older_than_hours => 0)").head.head
    assert(removed === 0L)
    assert(rows(s"SELECT count(*) FROM $cat.proc2.t").head === Seq(201L))
    // SHOW PROCEDURES lists the maintenance surface
    val procs = rows(s"SHOW PROCEDURES IN $cat").map(_.mkString(","))
    assert(procs.exists(_.contains("compact")) &&
      procs.exists(_.contains("fast_forward")))
  }

  test("catalog reads push filters, prune columns and report stats") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.plan")
    spark.sql(s"CREATE TABLE $cat.plan.t AS " +
      "SELECT id, id * 2 AS v, CAST(id AS STRING) AS s FROM range(100000)")
    rows(s"CALL $cat.system.compact(table => 'plan.t', num_files => 4, sort_cols => 'id')")
    val q = spark.table(s"$cat.plan.t").filter(col("id") < 10).select(col("v"))
    val phys = q.queryExecution.executedPlan.toString
    // the filter reached the connector (pushed) and the projection pruned
    // the unused string column from the read schema
    assert(phys.contains("PushedFilters") && phys.contains("LessThan(id,10)"), phys)
    assert(phys.contains("ReadSchema: struct<id:bigint,v:bigint>"), phys)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === (0L until 10L).map(_ * 2))
    // DESCRIBE works through the catalog identifier
    assert(rows(s"DESCRIBE TABLE $cat.plan.t").map(_.head).take(3) ===
      Seq("id", "v", "s"))
    // stats flow: the optimized plan of a pruned scan carries a real
    // (small) sizeInBytes, not the unknown default
    val stats = q.queryExecution.optimizedPlan.collectLeaves().head.stats
    assert(stats.sizeInBytes < BigInt(Long.MaxValue) / 4, stats.toString)
  }

  test("CALL compact with zorder: 2-D box queries prune more files") {
    import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThanOrEqual}
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.zo")
    // two independent uniform dims: a 1-D sort leaves dim b unclustered
    spark.sql(s"CREATE TABLE $cat.zo.t AS " +
      "SELECT pmod(id * 2654435761, 1024) AS a, pmod(id * 40503, 1024) AS b " +
      "FROM range(20000)")
    val base = tableBase("zo", "t")
    def candidates(): Int = {
      val files = Snapshots.liveFiles(base, Snapshots.versions(base).max)
      val box = Seq(
        And(GreaterThanOrEqual("a", 100L), LessThanOrEqual("a", 200L)),
        And(GreaterThanOrEqual("b", 100L), LessThanOrEqual("b", 200L)))
      graft.ingest.FileStats.prune(
        spark.sparkContext.hadoopConfiguration, files, box).size
    }
    rows(s"CALL $cat.system.compact(table => 'zo.t', num_files => 16, sort_cols => 'a')")
    val sorted1d = candidates()
    rows(s"CALL $cat.system.compact(table => 'zo.t', num_files => 16, zorder => 'a,b')")
    val zordered = candidates()
    assert(zordered < sorted1d,
      s"z-order should prune a 2-D box harder: z=$zordered vs 1d=$sorted1d")
    // hilbert from SQL also beats the 1-D sort. (vs morton, a SINGLE box
    // can go either way by one boundary file — the aggregate
    // hilbert-≤-morton property is pinned by ZOrderSpec's box battery,
    // not re-asserted on one probe here.)
    rows(s"CALL $cat.system.compact(table => 'zo.t', num_files => 16, " +
      "zorder => 'a,b', curve => 'hilbert')")
    val hilberted = candidates()
    assert(hilberted < sorted1d,
      s"hilbert should prune a 2-D box harder than a 1-D sort: " +
        s"h=$hilberted vs 1d=$sorted1d")
    // rows survive all rewrites
    assert(rows(s"SELECT count(*), sum(a), sum(b) FROM $cat.zo.t").head ===
      rows("SELECT count(*), sum(pmod(id * 2654435761, 1024)), " +
        "sum(pmod(id * 40503, 1024)) FROM range(20000)").head)
    intercept[Exception] {
      rows(s"CALL $cat.system.compact(table => 'zo.t', zorder => 'a')")
    }
    intercept[Exception] {
      rows(s"CALL $cat.system.compact(table => 'zo.t', zorder => 'a,b', curve => 'peano')")
    }
  }

  test("CALL refresh_mv maintains an incremental materialized view") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.mvp")
    spark.sql(s"CREATE TABLE $cat.mvp.src AS " +
      "SELECT id % 7 AS k, id AS x FROM range(1000)")
    // first refresh CREATES the view; it is a real catalog table afterwards
    rows(s"CALL $cat.system.refresh_mv(view => 'mvp.agg', source => 'mvp.src', " +
      "keys => 'k', value => 'x')")
    def expect(n: Long): Unit =
      assert(rows(s"SELECT count(*), sum(n_rows), sum(sum_v) FROM $cat.mvp.agg").head
        .map(_.toString.toDouble) === Seq(7.0, n.toDouble, (0L until n).sum.toDouble))
    expect(1000L)
    // append + second refresh: incremental (only the appended files scan)
    spark.sql(s"INSERT INTO $cat.mvp.src SELECT id % 7, id FROM range(1000, 3000)")
    val v = rows(s"CALL $cat.system.refresh_mv(view => 'mvp.agg', source => 'mvp.src', " +
      "keys => 'k', value => 'x')").head.head
    expect(3000L)
    // idempotent when fresh
    assert(rows(s"CALL $cat.system.refresh_mv(view => 'mvp.agg', source => 'mvp.src', " +
      "keys => 'k', value => 'x')").head.head === v)
    // a min/max view from SQL: delete the global maximum, refresh, and the
    // recompute-touched-groups path must surface the runner-up
    rows(s"CALL $cat.system.refresh_mv(view => 'mvp.mm', source => 'mvp.src', " +
      "keys => 'k', value => 'x', with_minmax => true)")
    assert(rows(s"SELECT max_v FROM $cat.mvp.mm WHERE k = ${2999 % 7}").head === Seq(2999.0))
    spark.sql(s"DELETE FROM $cat.mvp.src WHERE x = 2999")
    rows(s"CALL $cat.system.refresh_mv(view => 'mvp.mm', source => 'mvp.src', " +
      "keys => 'k', value => 'x', with_minmax => true)")
    assert(rows(s"SELECT max_v FROM $cat.mvp.mm WHERE k = ${2999 % 7}").head === Seq(2992.0))
  }

  test("ViewCatalog API: create, load, replace, rename, drop, guards") {
    // Stock Spark 4.1 routes CREATE VIEW only to the session catalog
    // (ResolveSessionCatalog raises MISSING_CATALOG_ABILITY.VIEWS for
    // every v2 catalog, ViewCatalog or not — the same gap Iceberg fills
    // with its own extension rules), so the catalog's view support is
    // exercised through the connector API it implements.
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog, ViewInfo}
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.vw")
    spark.sql(s"CREATE TABLE $cat.vw.t AS SELECT id, id * 2 AS v FROM range(10)")
    val vc = spark.sessionState.catalogManager.catalog(cat).asInstanceOf[ViewCatalog]
    val ident = Identifier.of(Array("vw"), "big")
    val schema = spark.sql(s"SELECT id, v FROM $cat.vw.t WHERE v >= 10").schema
    def info(sql: String) = new ViewInfo(ident, sql, cat, Array("vw"), schema,
      schema.fieldNames, Array.empty, Array.empty,
      java.util.Collections.singletonMap("owner.team", "data"))
    val v = vc.createView(info(s"SELECT id, v FROM $cat.vw.t WHERE v >= 10"))
    assert(v.query.contains("WHERE v >= 10") && v.currentCatalog === cat)
    assert(v.properties.get("owner.team") === "data")
    // the stored definition round-trips and evaluates against live data
    assert(spark.sql(vc.loadView(ident).query).count() === 5)
    spark.sql(s"INSERT INTO $cat.vw.t VALUES (100, 200)")
    assert(spark.sql(vc.loadView(ident).query).count() === 6)
    // replace, list, rename, clash guards, drop
    vc.replaceView(info(s"SELECT id, v FROM $cat.vw.t WHERE v < 10"), false)
    assert(spark.sql(vc.loadView(ident).query).count() === 5)
    assert(vc.listViews("vw").map(_.name).toSeq === Seq("big"))
    val ident2 = Identifier.of(Array("vw"), "small")
    vc.renameView(ident, ident2)
    assert(!vc.viewExists(ident) && vc.viewExists(ident2))
    intercept[Exception] { // a view may not shadow a table and vice versa
      vc.createView(new ViewInfo(Identifier.of(Array("vw"), "t"), "SELECT 1",
        cat, Array("vw"), schema, schema.fieldNames, Array.empty, Array.empty,
        java.util.Collections.emptyMap()))
    }
    intercept[Exception] { spark.sql(s"CREATE TABLE $cat.vw.small (k BIGINT)") }
    assert(vc.dropView(ident2) && vc.listViews("vw").isEmpty)
  }

  test("identity allocation under racing writers: unique, never re-issued") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.race")
    spark.sql(s"CREATE TABLE $cat.race.t " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, w INT, i INT)")
    val writers = 4
    val perWriter = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            for (i <- 0 until perWriter)
              spark.sql(s"INSERT INTO $cat.race.t (w, i) VALUES ($w, $i), ($w, ${i + 100})")
        })
      }
      futures.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    // every row got an id; no id was issued twice even under racing
    // ledger claims (the double-allocation hazard the marker-file CAS
    // exists to rule out); values stay in the claimed domain
    val n = writers * perWriter * 2
    // all commits succeeded, so no claim was burned: ids are EXACTLY 1..n
    val got = rows(s"SELECT count(*), count(DISTINCT id), count(id), " +
      s"min(id), max(id) FROM $cat.race.t").head
    assert(got === Seq(n.toLong, n.toLong, n.toLong, 1L, n.toLong), got)
  }

  test("catalog functions: cat.system.fnv64 / sample_keep from pure SQL") {
    // identical to the session-registered native expression by construction
    val viaCatalog = rows(s"SELECT $cat.system.fnv64('hello') AS h").head.head
    val viaNative = rows("SELECT fnv64('hello') AS h").head.head
    assert(viaCatalog === viaNative)
    // usable in expressions over tables; deterministic sampling keeps a
    // stable subset and rate-0/100 bound it exactly
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.fn")
    spark.sql(s"CREATE TABLE $cat.fn.t AS " +
      "SELECT CAST(id AS STRING) AS s FROM range(1000)")
    val kept = rows(s"SELECT count(*) FROM $cat.fn.t " +
      s"WHERE $cat.system.sample_keep(s, 10)").head.head.asInstanceOf[Long]
    assert(kept > 0 && kept < 1000, s"rate-10 kept $kept")
    val again = rows(s"SELECT count(*) FROM $cat.fn.t " +
      s"WHERE $cat.system.sample_keep(s, 10)").head.head.asInstanceOf[Long]
    assert(again === kept, "content-hash sampling must be deterministic")
    assert(rows(s"SELECT count(*) FROM $cat.fn.t " +
      s"WHERE $cat.system.sample_keep(s, 0)").head === Seq(0L))
    assert(rows(s"SELECT count(*) FROM $cat.fn.t " +
      s"WHERE $cat.system.sample_keep(s, 100)").head === Seq(1000L))
    // SHOW FUNCTIONS surfaces them; unknown names refuse
    val shown = rows(s"SHOW FUNCTIONS IN $cat.system").map(_.head.toString)
    assert(shown.exists(_.endsWith("fnv64")) &&
      shown.exists(_.endsWith("sample_keep")), shown.mkString(","))
    intercept[Exception] { rows(s"SELECT $cat.system.nope(1)") }
  }

  test("identity + generated columns: fill, allocation, refusals, BY DEFAULT") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gen")
    // GENERATED ALWAYS AS IDENTITY + GENERATED ALWAYS AS (expr)
    spark.sql(s"CREATE TABLE $cat.gen.t (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "v BIGINT, dbl BIGINT GENERATED ALWAYS AS (v * 2))")
    spark.sql(s"INSERT INTO $cat.gen.t (v) VALUES (10), (20)")
    spark.sql(s"INSERT INTO $cat.gen.t (v) VALUES (30)")
    // contiguous allocation across separate commits; expression computed
    assert(rows(s"SELECT id, v, dbl FROM $cat.gen.t ORDER BY id") ===
      Seq(Seq(1L, 10L, 20L), Seq(2L, 20L, 40L), Seq(3L, 30L, 60L)))
    // explicit writes refuse for both ALWAYS kinds
    val e1 = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.gen.t VALUES (99, 40, 80)")
    }
    assert(e1.getMessage.contains("GENERATED ALWAYS"), e1.getMessage)
    // BY DEFAULT identity with start/step: explicit values keep, NULL
    // slots fill from the claimed range
    spark.sql(s"CREATE TABLE $cat.gen.d (" +
      "id BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 100 INCREMENT BY 5), " +
      "v BIGINT)")
    spark.sql(s"INSERT INTO $cat.gen.d VALUES (7, 1), (NULL, 2)")
    spark.sql(s"INSERT INTO $cat.gen.d (v) VALUES (3)")
    val got = rows(s"SELECT id, v FROM $cat.gen.d ORDER BY v")
    assert(got === Seq(Seq(7L, 1L), Seq(100L, 2L), Seq(105L, 3L)), got)
    // an INSERT ... SELECT from the identity table into a PLAIN table
    // must not graft the identity spec onto the target (metadata comes
    // from DDL, never from an insert frame)
    spark.sql(s"CREATE TABLE $cat.gen.plain (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.gen.plain SELECT id, v FROM $cat.gen.t")
    spark.sql(s"INSERT INTO $cat.gen.plain VALUES (999, 0)") // explicit ok
    assert(rows(s"SELECT count(*) FROM $cat.gen.plain").head === Seq(4L))
    // DML legs maintain the invariant: UPDATE recomputes the generated
    // column from the new input value (the recompute overrides any
    // assignment that named it), identity values carry through
    spark.sql(s"UPDATE $cat.gen.t SET v = 50 WHERE id = 2")
    assert(rows(s"SELECT id, v, dbl FROM $cat.gen.t WHERE id = 2").head ===
      Seq(2L, 50L, 100L))
    // MERGE: matched update recomputes; not-matched insert gets a fresh
    // identity value and a computed expression
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gen_src AS " +
      "SELECT * FROM VALUES (3L, 70L), (0L, 90L) AS s(match_id, new_v)")
    spark.sql(
      s"""MERGE INTO $cat.gen.t AS t USING gen_src AS s ON t.id = s.match_id
         |WHEN MATCHED THEN UPDATE SET v = s.new_v
         |WHEN NOT MATCHED THEN INSERT (v) VALUES (s.new_v)""".stripMargin)
    assert(rows(s"SELECT id, v, dbl FROM $cat.gen.t WHERE id = 3").head ===
      Seq(3L, 70L, 140L))
    // the insert-leg row: next identity value (4), dbl = 180
    assert(rows(s"SELECT id, dbl FROM $cat.gen.t WHERE v = 90").head ===
      Seq(4L, 180L))
    // ALWAYS identity refuses explicit DML assignment too: the DML legs
    // carry complete rows past the generator's carrier mode (which keeps
    // explicit values), so the assignment list is the last gate before
    // an UPDATE silently reassigns ids the ledger never learns about
    val eu = intercept[Exception] {
      spark.sql(s"UPDATE $cat.gen.t SET id = 99 WHERE v = 90")
    }
    assert(eu.getMessage.contains("GENERATED ALWAYS AS IDENTITY"),
      eu.getMessage)
    // explicit NULL on an UPDATE leg is equally a reassignment: the
    // carrier-mode generator fills NULL slots with FRESH ids, so letting
    // `SET id = NULL` through would silently re-identity updated rows
    val en = intercept[Exception] {
      spark.sql(s"UPDATE $cat.gen.t SET id = NULL WHERE v = 90")
    }
    assert(en.getMessage.contains("GENERATED ALWAYS AS IDENTITY"),
      en.getMessage)
    val enm = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $cat.gen.t AS t USING gen_src AS s ON t.id = s.match_id
           |WHEN MATCHED THEN UPDATE SET id = NULL""".stripMargin)
    }
    assert(enm.getMessage.contains("GENERATED ALWAYS AS IDENTITY"),
      enm.getMessage)
    val em = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $cat.gen.t AS t USING gen_src AS s ON t.id = s.match_id
           |WHEN MATCHED THEN UPDATE SET id = s.new_v""".stripMargin)
    }
    assert(em.getMessage.contains("GENERATED ALWAYS AS IDENTITY"),
      em.getMessage)
    val ei = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $cat.gen.t AS t USING gen_src AS s ON t.id = s.match_id
           |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.match_id, s.new_v)"""
          .stripMargin)
    }
    assert(ei.getMessage.contains("GENERATED ALWAYS AS IDENTITY"),
      ei.getMessage)
    // BY DEFAULT identity keeps accepting explicit assignments
    spark.sql(s"UPDATE $cat.gen.d SET id = 7000 WHERE v = 3")
    assert(rows(s"SELECT id FROM $cat.gen.d WHERE v = 3").head === Seq(7000L))
    // state unchanged by the refusals
    assert(rows(s"SELECT id, dbl FROM $cat.gen.t WHERE v = 90").head ===
      Seq(4L, 180L))
  }

  test("malformed retention properties refuse at SET TBLPROPERTIES time") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ret")
    spark.sql(s"CREATE TABLE $cat.ret.t (id BIGINT)")
    // the consuming hook runs AFTER a durable commit and must warn-and-
    // skip, so DDL is the one moment a bad value can refuse to its author
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ret.t SET TBLPROPERTIES (" +
        "'history.expire.max-age-ms' = 'tomorrow')")
    }
    assert(e1.getMessage.contains("max-age-ms"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ret.t SET TBLPROPERTIES (" +
        "'history.expire.min-snapshots-to-keep' = '0')")
    }
    assert(e2.getMessage.contains("min-snapshots-to-keep"), e2.getMessage)
    // CREATE TABLE ... TBLPROPERTIES refuses the same way — without it a
    // malformed value set at creation would warn-and-skip forever with
    // the author never seeing an error
    val e3 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ret.bad (id BIGINT) TBLPROPERTIES (" +
        "'history.expire.max-age-ms' = 'next tuesday')")
    }
    assert(e3.getMessage.contains("max-age-ms"), e3.getMessage)
    // and the refused create left no table behind
    assert(!rows(s"SHOW TABLES IN $cat.ret").exists(_.contains("bad")))
    // a VALID retention value at create is accepted and persisted
    spark.sql(s"CREATE TABLE $cat.ret.ok (id BIGINT) TBLPROPERTIES (" +
      "'history.expire.min-snapshots-to-keep' = '2')")
    assert(rows(s"SHOW TBLPROPERTIES $cat.ret.ok")
      .exists(r => r.contains("history.expire.min-snapshots-to-keep")))
    // valid values land; a write with them set commits fine
    spark.sql(s"ALTER TABLE $cat.ret.t SET TBLPROPERTIES (" +
      "'history.expire.min-snapshots-to-keep' = '3')")
    spark.sql(s"INSERT INTO $cat.ret.t VALUES (1)")
    assert(rows(s"SELECT count(*) FROM $cat.ret.t").head === Seq(1L))
    // a malformed value smuggled in by the path-level API must NOT fail
    // the commit that triggers the hook (the commit is already durable)
    val base = tableBase("ret", "t")
    graft.connector.TableProps.write(base,
      graft.connector.TableProps.read(base) +
        ("history.expire.max-age-ms" -> "bogus"))
    spark.sql(s"INSERT INTO $cat.ret.t VALUES (2)")
    assert(rows(s"SELECT count(*) FROM $cat.ret.t").head === Seq(2L))
  }

  test("native CHECK constraint DDL rides the write.check.* enforcement") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.con")
    // inline CONSTRAINT at CREATE (the TableInfo path — the interface
    // default silently drops constraints; ours must not)
    spark.sql(s"CREATE TABLE $cat.con.t (id BIGINT, v BIGINT, " +
      "CONSTRAINT pos CHECK (v > 0))")
    spark.sql(s"INSERT INTO $cat.con.t VALUES (1, 5)")
    val e1 = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.con.t VALUES (2, -1)")
    }
    assert(e1.getMessage.toLowerCase.contains("check"), e1.getMessage)
    // ADD CONSTRAINT enforces from the next write; DROP releases it
    spark.sql(s"ALTER TABLE $cat.con.t ADD CONSTRAINT small CHECK (v < 100)")
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.con.t VALUES (3, 200)")
    }
    spark.sql(s"ALTER TABLE $cat.con.t DROP CONSTRAINT small")
    spark.sql(s"INSERT INTO $cat.con.t VALUES (3, 200)")
    assert(rows(s"SELECT count(*) FROM $cat.con.t").head === Seq(2L))
    // NULL passes (SQL CHECK semantics, the r9 contract)
    spark.sql(s"INSERT INTO $cat.con.t VALUES (4, NULL)")
    assert(rows(s"SELECT count(*) FROM $cat.con.t").head === Seq(3L))
    // dropping a missing constraint: loud without IF EXISTS, quiet with
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.con.t DROP CONSTRAINT nope")
    }
    spark.sql(s"ALTER TABLE $cat.con.t DROP CONSTRAINT IF EXISTS nope")
    // unenforceable kinds refuse loudly instead of landing informational
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.con.pk (id BIGINT, " +
        "CONSTRAINT k PRIMARY KEY (id))")
    }
    assert(e2.getMessage.contains("CHECK"), e2.getMessage)
  }

  test("CALL system.clone: zero-copy table copy that diverges independently") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cl")
    spark.sql(s"CREATE TABLE $cat.cl.src (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.cl.src SELECT id FROM range(20)")
    rows(s"CALL $cat.system.clone(source => 'cl.src', dest => 'cl.dup')")
    assert(rows(s"SELECT count(*) FROM $cat.cl.dup").head === Seq(20L))
    // no data under the clone's own tree
    val dupData = new java.io.File(tableBase("cl", "dup"), "data")
    assert(!dupData.exists ||
      dupData.listFiles.toSeq.flatMap(b => Option(b.listFiles).toSeq.flatten)
        .forall(!_.getName.endsWith(".parquet")))
    // divergence through SQL DML: the clone changes, the source doesn't
    spark.sql(s"DELETE FROM $cat.cl.dup WHERE id < 5")
    assert(rows(s"SELECT count(*) FROM $cat.cl.dup").head === Seq(15L))
    assert(rows(s"SELECT count(*) FROM $cat.cl.src").head === Seq(20L))
    // version-pinned clone via the named arg
    val v1 = Snapshots.versions(tableBase("cl", "src")).min
    rows(s"CALL $cat.system.clone(source => 'cl.src', dest => 'cl.empty', " +
      s"version => $v1)")
    assert(rows(s"SELECT count(*) FROM $cat.cl.empty").head === Seq(0L))
    // the identity allocation ledger travels with a clone: an insert on
    // the clone continues PAST the carried rows' ids, never re-issuing
    spark.sql(s"CREATE TABLE $cat.cl.idt " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.cl.idt (v) VALUES (1), (2), (3)")
    rows(s"CALL $cat.system.clone(source => 'cl.idt', dest => 'cl.idtc')")
    spark.sql(s"INSERT INTO $cat.cl.idtc (v) VALUES (4)")
    assert(rows(s"SELECT id FROM $cat.cl.idtc ORDER BY id").flatten ===
      Seq(1L, 2L, 3L, 4L))
  }

  test("persisted views resolve from plain SQL (ResolveGraftViews)") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog, ViewInfo}
    // Its own catalog over a fresh warehouse, on the shared session —
    // whose GraftExtensions inject the resolution rule.
    val wh = tmpDir("graft_viewsql_wh")
    spark.conf.set("spark.sql.catalog.gvx", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gvx.warehouse", wh)
    spark.sql("CREATE NAMESPACE gvx.vs")
    spark.sql("CREATE TABLE gvx.vs.t AS SELECT id, id % 3 AS g FROM range(30)")
    val vc = spark.sessionState.catalogManager.catalog("gvx").asInstanceOf[ViewCatalog]
    // schemaSql: a session-resolvable twin of the body, only to capture
    // the schema at creation (the body itself may use names relative to
    // the stored context, which plain analysis here can't resolve)
    def mkView(name: String, sql: String, schemaSql: String,
               aliases: Array[String] = Array.empty): Unit = {
      val schema = spark.sql(schemaSql).schema
      vc.createView(new ViewInfo(Identifier.of(Array("vs"), name), sql,
        "gvx", Array("vs"), schema, schema.fieldNames, aliases,
        Array.empty, java.util.Collections.emptyMap()))
    }
    // RELATIVE references in the body re-qualify against the view's
    // stored definition context, not the reader's current catalog
    mkView("evens", "SELECT id, g FROM t WHERE id % 2 = 0",
      "SELECT id, g FROM gvx.vs.t WHERE id % 2 = 0")
    assert(rows("SELECT count(*) FROM gvx.vs.evens").head === Seq(15L))
    // views compose: join a view to its base table, and a view can read
    // another view (fixed-point expansion)
    assert(rows(
      """SELECT count(*) FROM gvx.vs.evens e
        |JOIN gvx.vs.t t ON e.id = t.id""".stripMargin).head === Seq(15L))
    mkView("evensq",
      "SELECT g, count(*) AS n FROM gvx.vs.evens GROUP BY g",
      "SELECT g, count(*) AS n FROM gvx.vs.t WHERE id % 2 = 0 GROUP BY g")
    assert(rows("SELECT sum(n) FROM gvx.vs.evensq").head === Seq(15L))
    // a CTE name inside the body must NOT be captured by qualification
    mkView("withcte",
      "WITH t AS (SELECT 1 AS one) SELECT one FROM t",
      "WITH t AS (SELECT 1 AS one) SELECT one FROM t")
    assert(rows("SELECT one FROM gvx.vs.withcte").head === Seq(1))
    // stored positional column aliases apply (the `AS v(a, b)` form)
    mkView("renamed", "SELECT id, g FROM t WHERE id < 3",
      "SELECT id, g FROM gvx.vs.t WHERE id < 3",
      aliases = Array("ident", "grp"))
    assert(rows("SELECT ident, grp FROM gvx.vs.renamed WHERE ident = 2").head ===
      Seq(2L, 2L))
    // view reflects base-table writes (definition evaluates per query)
    spark.sql("INSERT INTO gvx.vs.t VALUES (100, 0)")
    assert(rows("SELECT count(*) FROM gvx.vs.evens").head === Seq(16L))
  }

  test("TIMESTAMP AS OF survives relocation: header commitTs beats mtimes") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.reloc")
    spark.sql(s"CREATE TABLE $cat.reloc.src (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.reloc.src VALUES (1)")
    val afterV2 = System.currentTimeMillis()
    Thread.sleep(1100)
    spark.sql(s"INSERT INTO $cat.reloc.src VALUES (2), (3)")
    val srcBase = tableBase("reloc", "src")
    val pinned = Snapshots.versionAt(srcBase, afterV2)
    // Copy the tree WITHOUT preserving mtimes — what an object-store copy
    // or a cp without -p does. Under mtime-based resolution every
    // manifest would now post-date `afterV2` and the lookup would fail;
    // the recorded commitTs must keep resolving the pre-copy version.
    val dstBase = tableBase("reloc", "cp")
    val sp = java.nio.file.Paths.get(srcBase)
    val dp = java.nio.file.Paths.get(dstBase)
    java.nio.file.Files.walk(sp).forEach { p =>
      val t = dp.resolve(sp.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    assert(Snapshots.versionAt(dstBase, afterV2) === pinned)
    val tsLit = java.time.Instant.ofEpochMilli(afterV2).toString
    assert(rows(s"SELECT count(*) FROM $cat.reloc.cp TIMESTAMP AS OF '$tsLit'").head ===
      Seq(1L))
    assert(rows(s"SELECT count(*) FROM $cat.reloc.cp").head === Seq(3L))
    // history surfaces the recorded instant (0 only for pre-commitTs
    // legacy manifests, which this table has none of)
    assert(spark.table(s"$cat.reloc.cp.history")
      .filter(col("committed_at_ms") > 0).count() === 3)
  }

  test("PARTITIONED BY / write.cluster-by: writes range-cluster so files prune") {
    val sess = spark
    import sess.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cl")
    // identity PARTITIONED BY records the property; monotone transforms
    // (hidden partitioning) cluster by their BASE column; bucket refuses
    spark.sql(s"CREATE TABLE $cat.cl.ev (k BIGINT, v STRING) PARTITIONED BY (k)")
    assert(rows(s"SHOW TBLPROPERTIES $cat.cl.ev")
      .exists(r => r.head == "write.cluster-by" && r(1) == "k"))
    spark.sql(s"CREATE TABLE $cat.cl.hp (k BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    assert(rows(s"SHOW TBLPROPERTIES $cat.cl.hp")
      .exists(r => r.head == "write.cluster-by" && r(1) == "ts"))
    // the declared transform survives verbatim for audit
    assert(rows(s"SHOW TBLPROPERTIES $cat.cl.hp")
      .exists(r => r.head == "partition.transforms" &&
        r(1).toString.replace(" ", "") == "days(ts)"))
    // bucket(n, c) is accepted as range-clustering on the base column —
    // strictly finer pruning than hash buckets for the point predicates
    // bucket serves (see createTable scaladoc)
    spark.sql(s"CREATE TABLE $cat.cl.bk (k BIGINT, ts TIMESTAMP) PARTITIONED BY (bucket(16, k))")
    assert(rows(s"SHOW TBLPROPERTIES $cat.cl.bk")
      .exists(r => r.head == "write.cluster-by" && r(1) == "k"))
    assert(rows(s"SHOW TBLPROPERTIES $cat.cl.bk")
      .exists(r => r.head == "partition.transforms" &&
        r(1).toString.replace(" ", "").startsWith("bucket(16")))
    // a deliberately scattered insert (keys round-robin across input
    // partitions) must still land range-clustered: a narrow key band then
    // prunes most files at planning time. AQE legitimately coalesces this
    // tiny shuffle to one partition (the right call at real scale —
    // target-sized files); cap records-per-file so the SORTED partition
    // still splits into several contiguous-range files to prune between.
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "250")
    try
      spark.sql(s"INSERT INTO $cat.cl.ev " +
        "SELECT (id * 37) % 1000 AS k, CAST(id AS STRING) AS v FROM range(1000)")
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val base = tableBase("cl", "ev")
    val dim = Seq(5L, 6L, 7L).toDF("dk")
    val (kept, total) = graft.query.RuntimePrune.candidateFiles(
      spark, base, "k", dim, "dk")
    assert(total > 1, s"expected a multi-file layout, got $total")
    assert(kept.size < total, s"clustered write should prune (kept ${kept.size}/$total)")
    // and the pruned join still answers exactly
    val got = graft.query.RuntimePrune.join(spark, base, "k", dim, "dk")
      .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(5L, 6L, 7L))
    // a stale cluster column (dropped) degrades gracefully: writes succeed
    spark.sql(s"ALTER TABLE $cat.cl.ev SET TBLPROPERTIES('write.cluster-by'='gone')")
    spark.sql(s"INSERT INTO $cat.cl.ev VALUES (2000, 'x')")
    assert(rows(s"SELECT count(*) FROM $cat.cl.ev").head === Seq(1001L))
  }

  test("atomic CTAS / RTAS: staged writes publish schema + content in one commit") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rt")
    spark.sql(s"CREATE TABLE $cat.rt.t AS SELECT id AS k, id * 2 AS v FROM range(10)")
    val base = tableBase("rt", "t")
    assert(rows(s"SELECT count(*), CAST(sum(v) AS BIGINT) FROM $cat.rt.t").head ===
      Seq(10L, 90L))
    val v1 = graft.ingest.Snapshots.versions(base).max
    // REPLACE TABLE AS SELECT: a different schema entirely; the replaced
    // definition stays time-travelable (REPLACE is an overwrite COMMIT)
    spark.sql(s"REPLACE TABLE $cat.rt.t AS " +
      "SELECT id AS a, CAST(id AS STRING) AS s FROM range(5)")
    assert(spark.table(s"$cat.rt.t").columns.toSeq === Seq("a", "s"))
    assert(rows(s"SELECT count(*) FROM $cat.rt.t").head === Seq(5L))
    assert(graft.ingest.Snapshots.modeOf(base, v1 + 1) === "replace-table")
    assert(rows(s"SELECT count(*), CAST(sum(v) AS BIGINT) FROM $cat.rt.t VERSION AS OF $v1").head ===
      Seq(10L, 90L))
    // CREATE OR REPLACE on a fresh name creates
    spark.sql(s"CREATE OR REPLACE TABLE $cat.rt.u AS SELECT 1 AS x")
    assert(rows(s"SELECT x FROM $cat.rt.u") === Seq(Seq(1)))
    // REPLACE TABLE without AS SELECT: empty table under the new schema
    spark.sql(s"REPLACE TABLE $cat.rt.t (z BIGINT)")
    assert(spark.table(s"$cat.rt.t").columns.toSeq === Seq("z"))
    assert(rows(s"SELECT count(*) FROM $cat.rt.t").head === Seq(0L))
    // a FAILED RTAS aborts cleanly: table state untouched, the staged
    // batch reclaimed (no file-count drift in the data dir)
    spark.sql(s"INSERT INTO $cat.rt.t VALUES (7)")
    def dataFiles(): Int = {
      def walk(d: java.io.File): Int =
        d.listFiles().map(f => if (f.isDirectory) walk(f)
          else if (f.getName.endsWith(".parquet")) 1 else 0).sum
      walk(new java.io.File(base, "data"))
    }
    val before = dataFiles()
    intercept[Exception] {
      spark.sql(s"REPLACE TABLE $cat.rt.t AS " +
        "SELECT CASE WHEN id >= 0 THEN raise_error('boom') ELSE 'x' END AS s " +
        "FROM range(3)")
    }
    assert(rows(s"SELECT z FROM $cat.rt.t") === Seq(Seq(7L)))
    assert(dataFiles() === before, "aborted stage must reclaim its batch")
    // ...and a failed CTAS leaves no half-created table behind
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.rt.broken AS " +
        "SELECT CASE WHEN id >= 0 THEN raise_error('boom') ELSE 'x' END AS s " +
        "FROM range(3)")
    }
    intercept[Exception] { spark.table(s"$cat.rt.broken").collect() }
  }

  test("partition evolution: changing write.cluster-by mid-table keeps both eras pruning") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.pe")
    // era 1 clusters by k; evolution re-points the property at ts —
    // Iceberg's partition-evolution shape: NO rewrite, old files keep
    // the old layout, new files land in the new one, and each era's
    // footer stats prune for ITS OWN clustered column
    spark.sql(s"CREATE TABLE $cat.pe.t (k BIGINT, ts TIMESTAMP) PARTITIONED BY (k)")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "200")
    try {
      spark.sql(s"INSERT INTO $cat.pe.t SELECT (id * 37) % 1000 AS k, " +
        "timestampadd(HOUR, CAST(id % 384 AS INT), TIMESTAMP '2024-03-01') AS ts " +
        "FROM range(1000)")
      spark.sql(s"ALTER TABLE $cat.pe.t SET TBLPROPERTIES('write.cluster-by'='ts')")
      spark.sql(s"INSERT INTO $cat.pe.t SELECT 2000 + (id * 37) % 1000 AS k, " +
        "timestampadd(HOUR, CAST(id % 384 AS INT), TIMESTAMP '2024-06-01') AS ts " +
        "FROM range(1000)")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val base = tableBase("pe", "t")
    val files = graft.ingest.Snapshots.liveFiles(
      base, graft.ingest.Snapshots.versions(base).max)
    val conf = spark.sparkContext.hadoopConfiguration
    def dataKept(fs: Seq[org.apache.spark.sql.sources.Filter]): Seq[String] =
      graft.ingest.FileStats.prune(conf, files, fs)
        .filter(f => spark.read.parquet(f).limit(1).count() > 0)
    // a k point-lookup prunes to one era-1 file (era-2 files are
    // ts-clustered but their k ranges are era-disjoint, so they prune
    // out too); a June day-range prunes to a strict era-2 subset
    val kKept = dataKept(Seq(EqualTo("k", 777L)))
    assert(kKept.size === 1, s"k lookup kept ${kKept.size}")
    val juneKept = dataKept(Seq(
      GreaterThanOrEqual("ts", java.sql.Timestamp.valueOf("2024-06-05 00:00:00")),
      LessThan("ts", java.sql.Timestamp.valueOf("2024-06-06 00:00:00"))))
    val dataFiles = files.filter(f => spark.read.parquet(f).limit(1).count() > 0)
    assert(juneKept.nonEmpty && juneKept.size < dataFiles.size / 2,
      s"day range kept ${juneKept.size}/${dataFiles.size}")
    // and both eras still answer exactly
    assert(rows(s"SELECT count(*) FROM $cat.pe.t WHERE k = 777").head === Seq(1L))
    assert(rows(s"SELECT count(*) FROM $cat.pe.t " +
      "WHERE ts >= TIMESTAMP '2024-06-05 00:00:00' " +
      "AND ts < TIMESTAMP '2024-06-06 00:00:00'").head ===
      Seq((0L until 1000L).count(i => { val h = i % 384; h >= 96 && h < 120 }).toLong))
  }

  test("DEFAULT column values: era-correct reads, INSERT fill, SET/DROP DEFAULT") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dv")
    // CREATE with a declared default: omitted INSERT columns fill it
    spark.sql(s"CREATE TABLE $cat.dv.t (k BIGINT, c BIGINT DEFAULT 7)")
    spark.sql(s"INSERT INTO $cat.dv.t (k) VALUES (1)")
    spark.sql(s"INSERT INTO $cat.dv.t VALUES (2, 20), (3, NULL)")
    assert(rows(s"SELECT k, c FROM $cat.dv.t ORDER BY k") ===
      Seq(Seq(1L, 7L), Seq(2L, 20L), Seq(3L, null)))
    // ADD COLUMN ... DEFAULT: pre-add rows read the initial default
    // (files physically missing the column), while a post-add real NULL
    // stays NULL — era-correct with zero rewrites
    spark.sql(s"ALTER TABLE $cat.dv.t ADD COLUMN d BIGINT DEFAULT 42")
    spark.sql(s"INSERT INTO $cat.dv.t VALUES (4, 4, NULL), (5, 5, 50)")
    spark.sql(s"INSERT INTO $cat.dv.t (k, c) VALUES (6, 6)")
    assert(rows(s"SELECT k, d FROM $cat.dv.t ORDER BY k") ===
      Seq(Seq(1L, 42L), Seq(2L, 42L), Seq(3L, 42L),
        Seq(4L, null), Seq(5L, 50L), Seq(6L, 42L)))
    // filters over the default-bearing column see the filled values
    assert(rows(s"SELECT count(*) FROM $cat.dv.t WHERE d = 42").head ===
      Seq(4L))
    // SET DEFAULT changes the WRITE default only; pre-add rows keep
    // reading the immutable initial default
    spark.sql(s"ALTER TABLE $cat.dv.t ALTER COLUMN d SET DEFAULT 99")
    spark.sql(s"INSERT INTO $cat.dv.t (k) VALUES (7)")
    assert(rows(s"SELECT d FROM $cat.dv.t WHERE k IN (1, 7) ORDER BY k") ===
      Seq(Seq(42L), Seq(99L)))
    // DROP DEFAULT: future omissions are NULL again; history unchanged
    spark.sql(s"ALTER TABLE $cat.dv.t ALTER COLUMN d DROP DEFAULT")
    spark.sql(s"INSERT INTO $cat.dv.t (k) VALUES (8)")
    assert(rows(s"SELECT d FROM $cat.dv.t WHERE k IN (1, 8) ORDER BY k") ===
      Seq(Seq(42L), Seq(null)))
    // a non-constant or ill-typed default refuses loudly
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.dv.t ADD COLUMN bad BIGINT DEFAULT k + 1")
    }
    // engine-level: NULL-valued defaults are refused (absent columns
    // already read as NULL — a NULL default is a no-op trap)
    val e = intercept[IllegalArgumentException] {
      graft.ingest.Snapshots.addColumn(tableBase("dv", "t"), "bad2",
        org.apache.spark.sql.types.LongType, Some("NULL"))
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("ALTER COLUMN TYPE: safe widening reads mixed eras, time travel keeps the old type") {
    import org.apache.spark.sql.types._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ty")
    spark.sql(s"CREATE TABLE $cat.ty.t (k INT, f FLOAT, d DECIMAL(6,2))")
    spark.sql(s"INSERT INTO $cat.ty.t VALUES (1, CAST(1.5 AS FLOAT), 12.34)")
    val vNarrow = graft.ingest.Snapshots.versions(tableBase("ty", "t")).max
    spark.sql(s"ALTER TABLE $cat.ty.t ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.ty.t ALTER COLUMN f TYPE DOUBLE")
    spark.sql(s"ALTER TABLE $cat.ty.t ALTER COLUMN d TYPE DECIMAL(12,2)")
    // a post-widen insert holds values the narrow types cannot: mixed
    // eras then read under ONE wide schema (old files widen at scan)
    spark.sql(s"INSERT INTO $cat.ty.t VALUES (5000000000, 1e40, 9999999999.99)")
    val head = spark.table(s"$cat.ty.t")
    assert(head.schema("k").dataType === LongType)
    assert(head.schema("f").dataType === DoubleType)
    assert(head.schema("d").dataType === DecimalType(12, 2))
    assert(head.orderBy(col("k")).collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 5000000000L))
    assert(head.agg(sum(col("f"))).head.getDouble(0) === 1e40 + 1.5)
    // time travel to the pre-widening version returns the NARROW era
    val old = spark.sql(s"SELECT * FROM $cat.ty.t VERSION AS OF $vNarrow")
    assert(old.schema("k").dataType === IntegerType)
    assert(old.schema("f").dataType === FloatType)
    assert(old.schema("d").dataType === DecimalType(6, 2))
    assert(old.collect().map(_.getInt(0)).toSeq === Seq(1))
    // footer-stats pruning stays sound across eras: narrow-file stats
    // compare in the wide domain, so a big-long probe keeps only the
    // wide file and a small probe only the narrow one
    val base = tableBase("ty", "t")
    val files = graft.ingest.Snapshots.liveFiles(
      base, graft.ingest.Snapshots.versions(base).max)
    def keptRows(v: Long): Long = {
      val kept = graft.ingest.FileStats.prune(
        spark.sparkContext.hadoopConfiguration, files,
        Seq(org.apache.spark.sql.sources.EqualTo("k", v)))
      kept.map(f => spark.read.parquet(f).count()).sum
    }
    assert(keptRows(5000000000L) === 1)
    assert(keptRows(1L) === 1)
    // and the full filtered read agrees
    assert(rows(s"SELECT count(*) FROM $cat.ty.t WHERE k = 5000000000").head ===
      Seq(1L))
    // unsafe changes refuse loudly — Spark's analyzer catches plain
    // narrowings (NOT_SUPPORTED_CHANGE_COLUMN), and the engine guard
    // independently refuses anything outside the safe-widening set
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ty.t ALTER COLUMN k TYPE INT")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ty.t ALTER COLUMN d TYPE DECIMAL(12,4)")
    }
    val e1 = intercept[IllegalArgumentException] {
      graft.ingest.Snapshots.widenColumn(tableBase("ty", "t"), "k", IntegerType)
    }
    assert(e1.getMessage.contains("widen"))
    val e2 = intercept[IllegalArgumentException] {
      graft.ingest.Snapshots.widenColumn(tableBase("ty", "t"), "d",
        DecimalType(14, 4))
    }
    assert(e2.getMessage.contains("widen"))
    // a Bloom sidecar on the widened column is invalidated (its bits
    // hash the narrow read type; keeping it would claim "definitely
    // absent" for files that DO contain the probed value); an unrelated
    // column's sidecar survives. Staged directories stand in for real
    // sidecars — the contract under test is "delete exactly the widened
    // column's index", not the index build itself (BloomIndexSpec).
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sc(c: String) = new org.apache.hadoop.fs.Path(
      graft.ingest.BloomIndex.sidecar(base, c))
    fs.mkdirs(sc("d")); fs.mkdirs(sc("k"))
    assert(fs.exists(sc("d")) && fs.exists(sc("k")))
    // a REFUSED widen must not cost the index: pre-validation runs
    // before the sidecar invalidation (which itself runs before the
    // schema commit, so a crash between them can never leave a stale
    // narrow-hash index beside a committed widen)
    intercept[IllegalArgumentException] {
      graft.ingest.Snapshots.widenColumn(base, "d", DecimalType(14, 4))
    }
    assert(fs.exists(sc("d")), "refused widen must keep the sidecar")
    graft.ingest.Snapshots.widenColumn(base, "d", DecimalType(14, 2))
    assert(!fs.exists(sc("d")), "widened column's sidecar must be invalidated")
    assert(fs.exists(sc("k")), "unrelated sidecar must survive")
  }

  test("writeTo(...).overwrite(cond): predicate-scoped replacement from the V2 writer") {
    val sess = spark
    import sess.implicits._
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rw")
    spark.sql(s"CREATE TABLE $cat.rw.t (day BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.rw.t SELECT id % 3 AS day, id AS v FROM range(30)")
    val keep = rows(s"SELECT day, v FROM $cat.rw.t WHERE day <> 1").toSet
    // Catalyst's overwrite-by-expression lands in SupportsOverwrite and
    // routes to the replace-where commit: one atomic version, day-1 rows
    // vector-deleted, the new row appended, other days untouched
    val vPre = graft.ingest.Snapshots.versions(tableBase("rw", "t")).max
    Seq((1L, 999L)).toDF("day", "v").writeTo(s"$cat.rw.t")
      .overwrite(col("day") === 1L)
    assert(rows(s"SELECT day, v FROM $cat.rw.t").toSet ===
      keep + Seq(1L, 999L))
    val base = tableBase("rw", "t")
    assert(graft.ingest.Snapshots.versions(base).max === vPre + 1)
    assert(graft.ingest.Snapshots.modeOf(base, vPre + 1) === "replace-where")
    // and INSERT OVERWRITE (no predicate) keeps the full-overwrite path
    spark.sql(s"INSERT OVERWRITE $cat.rw.t VALUES (7, 7)")
    assert(rows(s"SELECT day, v FROM $cat.rw.t") === Seq(Seq(7L, 7L)))
  }

  test("hidden partitioning: days(ts) writes day-clustered files a day-range prunes") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.hp")
    // days(ts) table and an IDENTITY-clustered twin (ts): the transform
    // is re-expressed as base-column clustering, so the twin must land
    // the exact same layout — the transform changes DDL surface, never
    // behavior.
    spark.sql(s"CREATE TABLE $cat.hp.d (k BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    spark.sql(s"CREATE TABLE $cat.hp.t (k BIGINT, ts TIMESTAMP) PARTITIONED BY (ts)")
    // 16 days x 100 rows, deliberately SCATTERED across input splits so
    // only the clustering shuffle can make files day-contiguous; small
    // records-per-file so the sorted output splits into several files.
    val src = "SELECT id AS k, timestampadd(HOUR, CAST((id * 37) % 384 AS INT), " +
      "TIMESTAMP '2024-03-01 00:00:00') AS ts FROM range(1600)"
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "200")
    try {
      spark.sql(s"INSERT INTO $cat.hp.d $src")
      spark.sql(s"INSERT INTO $cat.hp.t $src")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    def layout(table: String): (Seq[String], Seq[String]) = {
      val base = tableBase("hp", table)
      val files = graft.ingest.Snapshots.liveFiles(
        base, graft.ingest.Snapshots.versions(base).max)
      // one mid-range day [2024-03-05, 2024-03-06) — the planning-time
      // missing-file proof: the kept set is a strict subset
      val lo = java.sql.Timestamp.valueOf("2024-03-05 00:00:00")
      val hi = java.sql.Timestamp.valueOf("2024-03-06 00:00:00")
      val kept = graft.ingest.FileStats.prune(
        spark.sparkContext.hadoopConfiguration, files,
        Seq(GreaterThanOrEqual("ts", lo), LessThan("ts", hi)))
      (files, kept)
    }
    val (dFiles, dKept) = layout("d")
    assert(dFiles.size > 3, s"expected a multi-file layout, got ${dFiles.size}")
    assert(dKept.size < dFiles.size,
      s"day-range should prune files (kept ${dKept.size}/${dFiles.size})")
    // identity twin: same file count, same pruning power — unchanged
    val (tFiles, tKept) = layout("t")
    assert(tFiles.size === dFiles.size)
    assert(tKept.size === dKept.size)
    // and the day-range answer over the pruned scan is exactly right:
    // hour h of day 4 (96 <= h < 120) <=> (k*37) % 384 in [96, 120)
    val got = rows(s"SELECT count(*) FROM $cat.hp.d WHERE " +
      "ts >= TIMESTAMP '2024-03-05 00:00:00' AND ts < TIMESTAMP '2024-03-06 00:00:00'")
      .head.head
    val want = (0L until 1600L).count(k => { val h = (k * 37) % 384; h >= 96 && h < 120 })
    assert(got === want.toLong)
    // bucket(16, k): a k point-lookup prunes through the same stats
    spark.sql(s"CREATE TABLE $cat.hp.b (k BIGINT, ts TIMESTAMP) PARTITIONED BY (bucket(16, k))")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "200")
    try spark.sql(s"INSERT INTO $cat.hp.b $src")
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val bBase = tableBase("hp", "b")
    val bFiles = graft.ingest.Snapshots.liveFiles(
      bBase, graft.ingest.Snapshots.versions(bBase).max)
    val bKept = graft.ingest.FileStats.prune(
      spark.sparkContext.hadoopConfiguration, bFiles,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 777L)))
    // the v1 CREATE's empty-schema file has no stats rows, so pruning
    // conservatively keeps it (it contributes zero rows); every kept
    // file that actually HOLDS data must be the single 200-row range
    // containing k=777
    val bKeptData = bKept.filter(f => spark.read.parquet(f).limit(1).count() > 0)
    assert(bFiles.size > 3 && bKeptData.size === 1,
      s"point lookup should keep one data file (kept ${bKept.size}/${bFiles.size})")
    assert(rows(s"SELECT ts FROM $cat.hp.b WHERE k = 777").size === 1)
  }

  /** The filesystem path the catalog maps `ns.table` to. */
  private def tableBase(ns: String, table: String): String =
    new java.io.File(new java.io.File(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), ns), table).toString
}
