package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{BlockWriter, BloomIndex, MatView, Snapshots}
import graft.tables.Tables

/** Driver-facing queries for the reference's own operator surface:
  * the partition-key + key-range query (storageAdapter.go:4), run both
  * directly against the raw events table (pushdown path) and through a
  * full ingest→store→query round trip (BlockWriter layout).
  */
object RefParity {

  // user 13 exists at every sf (user ids are 0..15/150/1500); events span
  // 2024-01-01..2024-01-30, so this window is non-empty at every sf.
  private val PK = 13L
  private val LO = 1704412800000000L // 2024-01-05T00:00:00Z, epoch µs
  private val HI = 1705708800000000L // 2024-01-20T00:00:00Z

  private def outCols(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"), col("value"))

  /** The events table through the reference's ingest (bucketed,
    * key-clustered block files), staged once per cached layout — the key
    * includes `Fixture`'s LayoutVersion, so bump it when BlockWriter's
    * layout changes. Every use also ensures the per-file Bloom sidecar on
    * event_id that `ref_bloom_point` probes, so prestaging builds it too.
    */
  val ingestedEvents: Fixture = Fixture("graft_ingest", "events", marker = "_SUCCESS",
      after = (s, base) => BloomIndex.ensureSidecar(s, base, "event_id")) { (s, d, tmp) =>
    BlockWriter.write(Tables.events(s, d).drop("ts", "ts_t"),
      tmp, partitionCol = "user_id", keyCol = "ts_us")
  }

  // exists at every sf (event ids are 0..999/9999/99999)
  private val PointEventId = 777L

  private def qtyAggs: Seq[Column] =
    Seq(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"))

  private def updAggs: Seq[Column] =
    Seq(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"),
      sum(when(col("v") >= 1000000L, 1L).otherwise(0L)).as("n_upd"))

  /** One row per read, in order: `snap` (1, 2, …) and `aggs` over it. */
  private def snapRows(reads: DataFrame*)(aggs: Seq[Column]): DataFrame =
    reads.zipWithIndex.map { case (df, i) =>
      val a = df.agg(aggs.head, aggs.tail: _*)
      a.select(lit(i + 1).as("snap") +: a.columns.toSeq.map(col): _*)
    }.reduce(_ unionAll _)

  /** `q` over the mv1 source with its view registered, plus
    * `rewrite_fired` (see mv4).
    */
  private def viaView(s: SparkSession, d: String)(q: DataFrame => DataFrame): DataFrame = {
    val mv = mvDir(s, d)
    val src = snapshotDir(s, d)
    MatView.register(src, mv, Seq("l_orderkey"), "l_quantity")
    val agg = q(s.read.format("graft").load(src))
    val bases = graft.connector.MvRewriteRule
      .graftScanBases(agg.queryExecution.optimizedPlan)
    agg.withColumn("rewrite_fired", lit(bases.contains(mv) && !bases.contains(src)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Direct range query on the raw table: predicate must fully push into
    // the parquet scan (the reference's residual filter, block.go:117-141).
    "ref_range_query" -> { (s, d) =>
      outCols(Tables.events(s, d)
        .filter(col("user_id") === PK && col("ts_us").between(LO, HI)))
    },
    // Full reference lifecycle: ingest (bucketed, key-clustered block
    // files) → range query with partition pruning + footer-stats skipping.
    "ref_ingest_query" -> { (s, d) =>
      val base = ingestedEvents(s, d)
      outCols(RangeQuery.query(s, base, "user_id", "ts_us", lit(PK), lit(LO), lit(HI)))
    },
    // Point lookup on a NON-key column through the per-file Bloom index:
    // the reference's filename zone map can't skip anything here (every
    // block's ts range spans any event_id), so this is the secondary-
    // skipping path — sidecar probe prunes to ~1 file, residual filter
    // keeps the result exactly the full-scan answer (the oracle).
    "ref_bloom_point" -> { (s, d) =>
      val base = ingestedEvents(s, d)
      outCols(BloomIndex.lookup(s, base, "event_id", lit(PointEventId)))
    },
    // Snapshot lifecycle: the same aggregate through (1) time travel to
    // v1, (2) the latest snapshot, (3) the incremental v1→v2 file-diff
    // read. The oracle recomputes each row from the equivalent lineitem
    // slice — if isolation leaked (v1 seeing v2's files, or changes
    // re-reading carried files) the counts diverge. The two commits are
    // STAGED once per (sf, layout) into a fingerprint-keyed cache — like
    // ingestedEvents — so the registered query (and its bench row) times
    // the time-travel READ path, not two fact-table writes; the write
    // path has its own timing under SnapshotSpec and the ingest queries.
    "snap1_time_travel" -> { (s, d) =>
      val dir = snapshotDir(s, d)
      val vs = Snapshots.versions(dir).sorted
      val (v1, v2) = (vs.head, vs.last)
      snapRows(Snapshots.read(s, dir, Some(v1)), Snapshots.read(s, dir),
        Snapshots.changes(s, dir, v1, v2))(qtyAggs)
    },
    // Merge-on-read DELETE via deletion vectors: the staged tree commits
    // the lineitem slice, then DV-deletes l_quantity < 5 WITHOUT rewriting
    // a single data file (SnapshotSpec pins that). Row 1 = pre-delete
    // snapshot (time travel THROUGH the vector to the untouched files),
    // row 2 = post-delete (the anti-join-subtracted scan). The oracle
    // recomputes both from lineitem directly, so a DV bug — wrong
    // coordinates, mis-applied vector, resurrected rows — breaks the hash.
    "snap2_dv_delete" -> { (s, d) =>
      val dir = dvSnapshotDir(s, d)
      val vs = Snapshots.versions(dir).sorted
      snapRows(Snapshots.read(s, dir, Some(vs.head)),
        Snapshots.read(s, dir, Some(vs.last)))(qtyAggs)
    },
    // Incrementally-maintained materialized aggregate view: built against
    // snap1's v1 (pre-1997 lineitem slice), then refreshed with the v2
    // APPEND through the file-diff delta + DV-merge upsert — the refresh
    // scans only appended files and rewrites only touched groups. The
    // oracle recomputes the final per-order aggregates from lineitem
    // directly, so a double-count (watermark bug), missed delta, or
    // mis-merged group breaks the hash. l_quantity sums are exact in
    // double at any accumulation order, so incremental == full bit-wise.
    "mv1_incremental_agg" -> { (s, d) =>
      Snapshots.read(s, mvDir(s, d))
        .select(col("l_orderkey"), col("n_rows"), col("sum_v"))
    },
    // Min/max MV with the subtractive leg: built at v1 (pre-1997), then
    // one refresh consuming BOTH an append (post-1997 rows) and a DV
    // delete (l_quantity < 5 — removes the true minimum from nearly every
    // group, forcing the recompute-touched-groups fallback; groups whose
    // extremes survive take the additive path). The oracle recomputes
    // every per-group count/sum/min/max from lineitem directly, so a
    // missed recompute (stale extremum) or an over-eager one breaks the
    // hash. Quantities are small integers — double arithmetic is exact at
    // any accumulation order.
    "mv2_minmax_view" -> { (s, d) =>
      Snapshots.read(s, mv2Dir(s, d) + "/mv")
        .select(col("l_orderkey"), col("n_rows"), col("sum_v"),
          col("min_v"), col("max_v"))
    },
    // TRANSPARENT rewrite: the user aggregates over the SOURCE table;
    // the optimizer substitutes the registered fresh view, so the plan
    // scans one row per group instead of the fact table. `rewrite_fired`
    // pins the substitution itself into the oracle (true = the optimized
    // plan reads the VIEW base and not the source base), so a silently
    // broken rewrite fails the hash even though results would coincide.
    "mv4_auto_rewrite" -> { (s, d) =>
      viaView(s, d)(_.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_v"),
          avg(col("l_quantity")).as("avg_v")))
    },
    "mv5_rewrite_filtered" -> { (s, d) =>
      // The most common dashboard shape: the mv4 aggregate UNDER a WHERE
      // on a grouping key. The keyed residual filter commutes with the
      // view (filter the one-row-per-group view rows), so the rewrite
      // still fires — `rewrite_fired` pins the plan substitution into
      // the hash, and the oracle recomputes the filtered aggregate from
      // the raw rows, so the substituted answer must be value-exact.
      viaView(s, d)(_.filter(col("l_orderkey") % 3 === 0)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_v")))
    },
    "mv6_rewrite_having" -> { (s, d) =>
      // The second-most-common dashboard shape (r14): the mv4 aggregate
      // under a HAVING on the AGGREGATE OUTPUTS. A predicate over the
      // one-row-per-group outputs commutes with the view by construction
      // — the substituted Project re-publishes the aggregate's exprIds,
      // so the Filter above it re-binds to the view's stored columns
      // untouched. Distinct from mv5's key-WHERE (below the aggregate,
      // commutes only when key-only): HAVING always commutes because it
      // never changes group CONTENTS, only which groups survive.
      // `rewrite_fired` pins the substitution into the hash.
      viaView(s, d)(_.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_v"),
          avg(col("l_quantity")).as("avg_v"))
        .filter(col("sum_v") >= 100.0 && col("n_rows") >= 3))
    },
    "mv7_rewrite_rollup" -> { (s, d) =>
      // The PARTIAL-KEY rollup rewrite (r14): a GLOBAL aggregate over the
      // source — the empty-subset case of grouping on fewer keys than the
      // view — re-aggregates the view's mergeable state (count =
      // sum(n_rows), sum = sum(sum_v), avg = the exact totals ratio)
      // instead of scanning the fact table: at 100 TB the query reads one
      // row per order, not every lineitem. l_quantity sums are exact in
      // double at any accumulation order, so re-association is bit-safe
      // and the recomputing oracle hash-checks the substituted answer;
      // `rewrite_fired` pins the plan substitution itself.
      viaView(s, d)(_.agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_v"),
        avg(col("l_quantity")).as("avg_v")))
    },
    "mv3_distinct_view" -> { (s, d) =>
      Snapshots.read(s, mv3Dir(s, d) + "/mv")
        .select(col("l_orderkey"), col("n_rows"), col("sum_v"),
          expr("hll_sketch_estimate(ndv_sketch)").as("ndv"))
    },
    // Aggregate-JOIN view (r16): the view groups by a DIMENSION attribute
    // the fact table doesn't carry — refresh's `enrich` hook joins every
    // maintained frame (initial build, appends, removed rows) to the
    // broadcast immutable orders dim before aggregation, the classic
    // incrementally-maintained star-join index. The staged lifecycle
    // (build at v1 → append + DV delete → one refresh) drives the ±
    // algebra THROUGH the join; the oracle recomputes the final state
    // from lineitem ⋈ orders directly, so a delta mis-joined, dropped,
    // or double-counted on either leg breaks the hash.
    "mv8_join_view" -> { (s, d) =>
      Snapshots.read(s, mv8Dir(s, d) + "/mv")
        .select(col("o_orderpriority"), col("n_rows"), col("sum_v"))
    },
    // 3-D box query against the z-ordered snapshot table: readWhere's
    // planning-time file pruning runs over the compacted Morton layout;
    // the oracle recomputes the box from raw events, so the layout
    // rewrite must be row-exact and the pruning must never drop a
    // matching file.
    "zo1_zorder_box" -> { (s, d) =>
      Snapshots.readWhere(s, zorderDir(s, d),
        col("user_id").between(30L, 60L) && col("ts_us").between(LO, HI) &&
          col("value") >= 200.0)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
    },
    // Non-additive schema evolution: the staged tree commits even-keyed
    // orders rows as (k, c), RENAMES c→cust (metadata-only), then appends
    // the odd-keyed rows under the new name. Row 1 = time travel to the
    // pre-rename era (old files, old name), row 2 = the latest read where
    // pre-rename files bind `cust` BY FIELD ID. A name-based resolver
    // would null out half the sum and break the hash.
    "snap5_rename" -> { (s, d) =>
      val dir = renameSnapshotDir(s, d)
      val v1 = Snapshots.versions(dir).min
      Snapshots.read(s, dir, Some(v1))
        .agg(count(lit(1)).as("n_rows"), sum(col("c")).as("sum_c"))
        .select(lit(1).as("snap"), col("n_rows"), col("sum_c"))
        .unionAll(Snapshots.read(s, dir)
          .agg(count(lit(1)).as("n_rows"), sum(col("cust")).as("sum_c"))
          .select(lit(2).as("snap"), col("n_rows"), col("sum_c")))
    },
    // Write-audit-publish through a branch: the staged tree commits the
    // pre-1996 lineitem slice to main, stages the 1996+ slice on an
    // `audit` branch (invisible to main), and fast-forwards. Row 1 = the
    // fork version main readers saw during the audit window, row 2 = the
    // branch-head (audit) read, row 3 = published main. The oracle
    // recomputes all three from lineitem — a staged row leaking into the
    // fork read, or the publish dropping/duplicating a file, breaks the
    // hash.
    "snap4_wap" -> { (s, d) =>
      val dir = wapSnapshotDir(s, d)
      snapRows(Snapshots.read(s, dir, Some(Snapshots.versions(dir).min)),
        Snapshots.readBranch(s, dir, "audit"), Snapshots.read(s, dir))(qtyAggs)
    },
    // The table format through its DataSource V2 surface: the same staged
    // two-commit tree read via format("graft") with a pushed-down
    // predicate. The late-shipdate filter's data lives ENTIRELY in the v2
    // commit's files, so commit-time footer stats prune every v1 file at
    // PLANNING time (files are l_orderkey-clustered, but each file's
    // l_shipdate range still splits cleanly at the commit boundary) —
    // correctness is the oracle's recompute from lineitem; the pruning it
    // rides on is pinned by ConnectorSpec's missing-file proof.
    "cn1_connector_read" -> { (s, d) =>
      val dir = snapshotDir(s, d)
      s.read.format("graft").load(dir)
        .filter(col("l_shipdate") >= lit("1998-06-01"))
        .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    },
    // The SQL surface: a temporary view over the connector with TIME
    // TRAVEL in the options — `versionAsOf` pins the view to the first
    // commit (the pre-1997 slice), so a catalog user gets reproducible
    // dataset versions in plain SQL.
    "cn2_connector_sql" -> { (s, d) =>
      val dir = snapshotDir(s, d)
      val v1 = Snapshots.versions(dir).min
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW cn2_view USING graft " +
        s"OPTIONS (path '$dir', versionAsOf '$v1')")
      s.sql("SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty FROM cn2_view")
    },
    // The reference's NATIVE block format, end to end: the staged fixture
    // writes the events slice as Avro OCF (one container file per
    // partition, every field union[null, T] like streamAdapter.go's
    // writer), and the query reads it back through the avro-core OCF
    // source and aggregates. The oracle recomputes from the parquet
    // events directly — any encode/decode corruption (union unwrap, Utf8
    // handling, per-file schema alignment) breaks the hash.
    "avro1_ocf_roundtrip" -> { (s, d) =>
      val dir = avroOcfDir(s, d)
      graft.sources.AvroOcf.read(s, dir)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("event_type")).as("n_types"),
          round(sum(col("value")), 2).as("sum_v"))
    },
    // SQL MERGE INTO through the planner strategy: the staged build runs
    // a three-group MERGE (conditional DELETE on k%10, UPDATE +1e6 on the
    // other matched evens, NOT-MATCHED-BY-SOURCE zeroing odd multiples of
    // 3) as ONE atomic merge:sql commit; row 1 = time travel to the
    // pre-merge version, row 2 = post-merge. The oracle recomputes both
    // states from orders with the same CASE logic — wrong clause
    // precedence, a lost DV coordinate, or a non-atomic publish breaks
    // the hash.
    "mrg3_merge_sql" -> { (s, d) =>
      val cat = catalog(catalogMerge, s, d)
      s.sql(
        s"""SELECT 1 AS snap, count(*) AS n_rows, sum(v) AS sum_v,
           |  sum(CASE WHEN v >= 1000000 THEN 1 ELSE 0 END) AS n_upd
           |FROM $cat.core.om VERSION AS OF 2
           |UNION ALL
           |SELECT 2, count(*), sum(v),
           |  sum(CASE WHEN v >= 1000000 THEN 1 ELSE 0 END)
           |FROM $cat.core.om""".stripMargin)
    },
    // The TableCatalog plugin end-to-end: namespace + CTAS + INSERT staged
    // once through PURE SQL DDL, then read back through the catalog with
    // SQL time travel (VERSION AS OF the CTAS commit) and at the head.
    // The oracle recomputes both slices from orders — a catalog
    // resolution bug, a version mis-pin, or an INSERT landing in the
    // wrong table breaks the hash.
    "cat1_catalog_sql" -> { (s, d) =>
      val cat = catalog(catalogOrders, s, d)
      s.sql(
        s"""SELECT 1 AS snap, count(*) AS n_rows,
           |  round(sum(o_totalprice), 2) AS sum_p
           |FROM $cat.core.orders VERSION AS OF 2
           |UNION ALL
           |SELECT 2, count(*), round(sum(o_totalprice), 2)
           |FROM $cat.core.orders""".stripMargin)
    },
    // Incremental batch read end-to-end: the cursor sits at v1 (the even
    // slice), so the read returns EXACTLY the rows v2 appended — row 1.
    // Row 2 proves the full table is intact (the cursor read is a view,
    // not a consumption). A diff that leaked v1 rows, missed v2 files,
    // or double-counted breaks the exact cent sums.
    "inc1_incremental_read" -> { (s, d) =>
      val base = incrementalDir(s, d)
      val v1 = Snapshots.versions(base).min
      val delta = s.read.format("graft")
        .option("startingVersion", v1.toString).load(base)
        .agg(count("*").as("n"), sum("cents").as("sum_cents"))
        .withColumn("part", lit(1L))
      val full = s.read.format("graft").load(base)
        .agg(count("*").as("n"), sum("cents").as("sum_cents"))
        .withColumn("part", lit(2L))
      delta.unionByName(full).select("part", "n", "sum_cents")
    },
    // Row lineage end-to-end, hash-checked PER ROW: the staged tree runs
    // assignment → enable-backfill → metadata append → DV delete → full
    // compact (ids turn physical) → post-compact append (metadata again)
    // → shallow clone, and the query reads the CLONE's (doc_id, _row_id)
    // mapping. Single-file doc_id-sorted commits make every id DERIVABLE
    // (file row order = doc_id order, ranges claimed in commit order), so
    // the DuckDB oracle reproduces the exact ids with row_number
    // arithmetic — any id that drifted, duplicated, or vanished across
    // the six lifecycle steps breaks the hash.
    "lin1_row_lineage" -> { (s, d) =>
      val base = lineageDir(s, d)
      Snapshots.readLineage(s, base)
        .select(col("doc_id"), col("lang"), col("_row_id").as("row_id"))
    },
    // Identity + generated columns end-to-end: the single insert claimed
    // ONE identity range, so the ids are exactly 1..n — min/max/sum pin
    // the allocation arithmetic (a gap, duplicate or off-by-step breaks
    // the triangular-number sum) — and the generated column must equal
    // its expression row-wise (sum(dbl - 2*cents) would surface any
    // drift as a nonzero).
    "gen1_identity_generated" -> { (s, d) =>
      val cat = catalog(catalogGenerated, s, d)
      s.sql(
        s"""SELECT count(*) AS n, min(id) AS min_id, max(id) AS max_id,
           |  sum(id) AS sum_id, sum(dbl - 2 * cents) AS gen_drift,
           |  count(dbl) AS n_gen
           |FROM $cat.core.g""".stripMargin)
    },
    // Zero-copy shallow clone end-to-end: row 2 aggregates the CLONE
    // after its divergent DV delete — over data files it shares with the
    // source by absolute reference — while row 1 proves the source is
    // untouched. A clone that copied, missed, or double-referenced any
    // file breaks a count; a delete that leaked to the source breaks
    // row 1; cents keep the sums exact integers.
    "cl1_shallow_clone" -> { (s, d) =>
      val cat = catalog(catalogClone, s, d)
      s.sql(
        s"""SELECT 1 AS tbl, count(*) AS n, sum(cents) AS sum_cents
           |FROM $cat.core.src
           |UNION ALL
           |SELECT 2, count(*), sum(cents) FROM $cat.core.dup""".stripMargin)
    },
    // Persisted SQL view end-to-end: `core.v` stores its definition
    // (relative table name + definition-site catalog context) in the
    // warehouse, and the reader's aggregate runs THROUGH the view via
    // ResolveGraftViews — filter/projection from the stored body compose
    // with the outer GROUP BY in one Catalyst plan (the view inlines, so
    // pushdown/pruning still reach the snapshot scan underneath).
    "vw1_sql_view" -> { (s, d) =>
      val cat = catalog(catalogView, s, d)
      s.sql(
        s"""SELECT st, bucket, count(*) AS n,
           |  sum(cents) AS sum_cents
           |FROM $cat.core.v
           |GROUP BY st, bucket""".stripMargin)
    },
    // MERGE WITH SCHEMA EVOLUTION end-to-end: the final table carries a
    // widened BIGINT v (update values exceed Int range) and the
    // merge-added st column — n_status counts exactly the evolved rows,
    // min_k proves the insert leg landed under the negated keys, and the
    // exact long sum breaks if any update leg value was narrowed.
    "mrg4_merge_evolve" -> { (s, d) =>
      val cat = catalog(catalogMergeEvolve, s, d)
      s.sql(
        s"""SELECT count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v,
           |  count(st) AS n_status, min(k) AS min_k
           |FROM $cat.core.me""".stripMargin)
    },
    // Atomic RTAS end-to-end: row 1 reads the PRE-REPLACE version (the
    // raw rows stay time-travelable because REPLACE is an overwrite
    // commit, not a drop), row 2 the replaced aggregate table. A
    // non-atomic replace (drop + re-create) would lose row 1; a torn one
    // would break row 2's totals.
    "rt1_replace_table" -> { (s, d) =>
      val cat = catalog(catalogReplaceTable, s, d)
      s.sql(
        s"""SELECT 1 AS snap, count(*) AS n_rows,
           |  CAST(sum(v) AS BIGINT) AS total
           |FROM $cat.core.rt VERSION AS OF 2
           |UNION ALL
           |SELECT 2, count(*), CAST(sum(sv) AS BIGINT)
           |FROM $cat.core.rt""".stripMargin)
    },
    // DEFAULT column values end-to-end: c fills its write default for
    // the omitted-column era, d fills its INITIAL default for every row
    // whose file physically predates the column (Spark's EXISTS_DEFAULT
    // schema metadata — era-correct, zero rewrites) and explicit values
    // afterwards. The oracle replays the era algebra from orders in
    // exact longs; a default leaking into the wrong era breaks the hash.
    "dv1_default_values" -> { (s, d) =>
      val cat = catalog(catalogDefaults, s, d)
      s.sql(
        s"""SELECT count(*) AS n_rows, CAST(sum(c) AS BIGINT) AS sum_c,
           |  CAST(sum(d) AS BIGINT) AS sum_d,
           |  CAST(sum(CASE WHEN d = 42 THEN 1 ELSE 0 END) AS BIGINT) AS n_init
           |FROM $cat.core.dv""".stripMargin)
    },
    // Type-widening evolution: row 1 reads the PRE-WIDENING version
    // (int32 era under its own narrow header — time travel keeps the old
    // type), row 2 the head, where int32-era and int64-era files read
    // under one wide schema. All-long arithmetic; a widen that corrupted
    // narrow values at scan (wrong promotion), lost the era boundary, or
    // mis-dated time travel breaks the hash.
    "ty1_type_widening" -> { (s, d) =>
      val dir = widenDir(s, d)
      val vs = Snapshots.versions(dir).sorted
      snapRows(Snapshots.read(s, dir, Some(vs.head)), Snapshots.read(s, dir))(Seq(
        count(lit(1)).as("n_rows"),
        sum(col("v").cast("long")).as("sum_v"),
        sum(when(col("v").cast("long") > 2147483647L, 1L).otherwise(0L)).as("n_wide")))
    },
    // REPLACE WHERE (predicate-scoped atomic backfill): day 3 replaced
    // with negated values TWICE (idempotent re-run staged in the
    // fixture); row 1 = pre-replace version, row 2 = final state. The
    // oracle replays the same algebra from orders in exact longs — a
    // vector losing a day-3 row (stale positive v survives), the
    // backfill leaking outside day 3, or a doubled re-run (duplicate
    // negated rows) each break the hash.
    "rw1_replace_where" -> { (s, d) =>
      val dir = replaceWhereDir(s, d)
      val vs = Snapshots.versions(dir).sorted
      snapRows(Snapshots.read(s, dir, Some(vs.head)),
        Snapshots.read(s, dir, Some(vs.last)))(Seq(
        count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"),
        sum(when(col("day") === 3L, 1L).otherwise(0L)).as("n_day3")))
    },
    // Hidden partitioning end-to-end: the table is DECLARED
    // `PARTITIONED BY (days(ts))` through pure SQL DDL, the write lands
    // day-clustered, and this day-range read prunes non-overlapping
    // files at planning time (the CatalogSpec twin proves the missing-
    // file set; here the oracle proves the surviving rows are exactly
    // right). All-exact surfaces: counts, distinct users, and a
    // floor(value*100) integer sum — no double-ordering hazard.
    "cat2_hidden_partition" -> { (s, d) =>
      val cat = catalog(catalogHidden, s, d)
      s.sql(
        s"""SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
           |  count(DISTINCT user_id) AS n_users,
           |  sum(floor(value * 100)) AS sum_v100
           |FROM $cat.core.ev
           |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
           |GROUP BY CAST(ts AS DATE)""".stripMargin)
    },
    // Batch MERGE (upsert) through deletion vectors: the staged tree
    // commits (o_orderkey, o_custkey), then merges key%10 updates
    // (+1_000_000 marker) and key%100 inserts (negated keys) as ONE
    // atomic commit. Row 1 = pre-merge, row 2 = post-merge; all-long
    // arithmetic, so the oracle recomputes both exactly from orders.
    "snap3_merge_upsert" -> { (s, d) =>
      val dir = mergeSnapshotDir(s, d)
      val vs = Snapshots.versions(dir).sorted
      snapRows(Snapshots.read(s, dir, Some(vs.head)),
        Snapshots.read(s, dir, Some(vs.last)))(updAggs)
    },
    // Equality deletes + no-scan upsert: the staged tree commits
    // (k=o_orderkey, v=o_custkey), upserts key%10 updates (+1_000_000
    // marker) and key%100 inserts (negated keys) WITHOUT scanning the
    // target (upsertByKeys: the matched leg is an equality delete pinned
    // by footer-stats metadata), then equality-deletes every visible key
    // divisible by 7. Row 1 = pre-upsert, row 2 = final; the oracle
    // replays the same algebra from orders in exact long arithmetic — a
    // key the eq anti-join misses (delete lost), a same-commit insert the
    // delete wrongly hides (refs leaking into the new files), or a
    // non-atomic publish breaks the hash.
    "eq1_upsert_noscan" -> { (s, d) =>
      val dir = eqSnapshotDir(s, d)
      val v1 = Snapshots.versions(dir).min
      snapRows(Snapshots.read(s, dir, Some(v1)), Snapshots.read(s, dir))(updAggs)
    },
    // Change data feed: the staged tree commits evens, appends odds,
    // DV-deletes v < 1000, then no-scan-upserts key%10 (+1_000_000). The
    // feed replays all four commits as (version, type) grains; the oracle
    // recomputes every grain's count and sum from orders — a delete
    // attributed to the wrong commit, a double-counted row (DV vs eq
    // overlap), or an upsert's old generation missing from the delete
    // half breaks the hash.
    "cdc1_change_feed" -> { (s, d) =>
      val dir = cdcSnapshotDir(s, d)
      Snapshots.changeFeed(s, dir, 0L, Snapshots.versions(dir).max)
        .select(col("_commit_version").cast("int").as("cv"),
          col("_change_type").as("ct"), col("v"))
        .groupBy(col("cv"), col("ct"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
    },
    // Runtime file pruning on a star join — the reference's scatter-
    // gather block skipping generalized to JOIN grain: fact = the events
    // snapshot range-clustered on user_id, dim = the distinct custkeys
    // holding a ≥499k order, computed at RUN time. Static planning can't
    // see those keys, so a plain join scans every fact file;
    // [[graft.query.RuntimePrune]] runs the dim side first and the
    // manifest footer stats drop the fact files owning none of the
    // matched users before any task launches. The oracle replays the
    // same join from the raw parquet — over-pruning (a dropped matching
    // file) or a mistranslated key set breaks the hash.
    "j15_runtime_prune" -> { (s, d) =>
      val dir = clusteredEventsDir(s, d)
      val dim = Tables.table(s, d, "orders")
        .filter(col("o_totalprice") > 499000)
        .select(col("o_custkey")).distinct()
      graft.query.RuntimePrune.join(s, dir, "user_id", dim, "o_custkey")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 2).as("sum_v"))
    }
  )

  /** This module's entries of the fixture registry (see
    * [[graft.SparkEntry.fixtures]]).
    */
  def fixtures: Seq[Fixture] = Seq(
    ingestedEvents, snapshotDir, mvDir, dvSnapshotDir, mv2Dir, mv3Dir, mv8Dir,
    zorderDir, renameSnapshotDir, wapSnapshotDir, mergeSnapshotDir,
    eqSnapshotDir, cdcSnapshotDir, replaceWhereDir, incrementalDir, widenDir,
    avroOcfDir, clusteredEventsDir, lineageSrc, lineageDir,
    catalogOrders, catalogHidden, catalogDefaults, catalogGenerated,
    catalogClone, catalogView, catalogMergeEvolve, catalogReplaceTable,
    catalogMerge)

  private def lineitem(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_shipdate"))

  private def ordersKv(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "orders").select(col("o_orderkey").as("k"), col("o_custkey").as("v"))

  private def cents: Column = round(col("o_totalprice") * 100).cast("long").as("cents")

  /** Staged two-commit snapshot tree for snap1 (pre-1997 slice, then the
    * rest), built once per (LayoutVersion, sf, lineitem fingerprint).
    */
  private val snapshotDir = Fixture("graft_snap", "lineitem") { (s, d, tmp) =>
    val li = lineitem(s, d)
    Snapshots.commit(s, li.filter(col("l_shipdate") < lit("1997-01-01")),
      tmp, sortCols = Seq("l_orderkey"))
    Snapshots.commit(s, li.filter(col("l_shipdate") >= lit("1997-01-01")),
      tmp, sortCols = Seq("l_orderkey"))
  }

  /** Staged two-step MV for mv1: full build at the source's v1, then ONE
    * incremental refresh consuming the v2 append — the source is
    * [[snapshotDir]]'s two-commit tree.
    */
  private val mvDir = Fixture("graft_snap", "lineitem", suffix = "_mv") { (s, d, tmp) =>
    val src = snapshotDir(s, d)
    val vs = Snapshots.versions(src).sorted
    MatView.refresh(s, tmp, src, Seq("l_orderkey"), "l_quantity", upTo = Some(vs.head))
    MatView.refresh(s, tmp, src, Seq("l_orderkey"), "l_quantity")
  }

  /** Staged one-commit-plus-one-DV-delete tree for snap2. The DV delete
    * happens at STAGE time, so the tree is immutable afterwards and
    * reruns are stable.
    */
  private val dvSnapshotDir = Fixture("graft_dv", "lineitem") { (s, d, tmp) =>
    Snapshots.commit(s, lineitem(s, d), tmp, sortCols = Seq("l_orderkey"))
    Snapshots.deleteWhereDV(s, tmp, col("l_quantity") < 5)
  }

  /** A staged MV lifecycle over its own lineitem source (`/src`): the view
    * (`/mv`) is built at v1 (pre-1997 slice), then ONE refresh consumes an
    * append (the post-1997 rows) plus a DV delete (l_quantity < 5). The
    * delete removes per-group minima, so the removal paths run at stage
    * time; the tree is immutable afterwards. `refresh(s, d, mv, src,
    * upTo)` is the variant's `MatView.refresh` call.
    */
  private def mvLifecycle(root: String)(
      refresh: (SparkSession, String, String, String, Option[Long]) => Unit): Fixture =
    Fixture(root, "lineitem") { (s, d, tmp) =>
      val li = lineitem(s, d)
      val (src, mv) = (tmp + "/src", tmp + "/mv")
      val v1 = Snapshots.commit(s,
        li.filter(col("l_shipdate") < "1997-01-01"), src, sortCols = Seq("l_orderkey"))
      refresh(s, d, mv, src, Some(v1))
      Snapshots.commit(s, li.filter(col("l_shipdate") >= "1997-01-01"), src)
      Snapshots.deleteWhereDV(s, src, col("l_quantity") < 5)
      refresh(s, d, mv, src, None)
    }

  /** mv2's min/max view: the delete exercises the
    * recompute-touched-groups fallback.
    */
  private val mv2Dir = mvLifecycle("graft_mv2") { (s, _, mv, src, upTo) =>
    MatView.refresh(s, mv, src, Seq("l_orderkey"), "l_quantity", upTo = upTo,
      withMinMax = true)
  }

  /** mv3's distinct-sketch view: the HLL ndv_sketch column is maintained —
    * append windows union sketches, the delete window rebuilds touched
    * groups' sketches from source. Per-order distinct-quantity counts sit
    * deep in the sketch's exact (coupon) regime, so `hll_sketch_estimate`
    * equals DuckDB's COUNT(DISTINCT) and the view gets a full hash oracle.
    */
  private val mv3Dir = mvLifecycle("graft_mv3") { (s, _, mv, src, upTo) =>
    MatView.refresh(s, mv, src, Seq("l_orderkey"), "l_quantity", upTo = upTo,
      distinctCol = "l_quantity")
  }

  /** mv8's aggregate-join view: every maintained frame is enriched by a
    * broadcast join to the (immutable) orders dimension so the view keys
    * on `o_orderpriority` — an attribute only the join can supply.
    */
  private val mv8Dir = mvLifecycle("graft_mv8") { (s, d, mv, src, upTo) =>
    val dim = Tables.table(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    MatView.refresh(s, mv, src, Seq("o_orderpriority"), "l_quantity", upTo = upTo,
      enrich = _.join(broadcast(dim), col("l_orderkey") === col("o_orderkey")))
  }

  /** Staged 3-D z-ordered snapshot table for zo1: the events slice
    * committed once, then compacted through `ZOrder.layoutN(user_id,
    * ts_us, value)` — the registered query reads a 3-D box back through
    * the stats-pruned path, so the layout rewrite, the footer-stats
    * sidecar refresh at compaction time, and the pruning read are all
    * inside the oracle gate (results must equal the raw-parquet box scan
    * regardless of layout; a row lost or duplicated by the rewrite
    * breaks the hash).
    */
  private val zorderDir = Fixture("graft_zo", "events") { (s, d, tmp) =>
    Snapshots.commit(s, Tables.events(s, d).drop("ts", "ts_t"), tmp)
    Snapshots.compact(s, tmp, numFiles = 32, layout = Some(df =>
      graft.ingest.ZOrder.layoutN(df, Seq("user_id", "ts_us", "value"), 32)))
  }

  /** Staged rename lifecycle for snap5: commit evens as (k, c), rename
    * c→cust, append odds as (k, cust) — all at STAGE time.
    */
  private val renameSnapshotDir = Fixture("graft_rename", "orders") { (s, d, tmp) =>
    val o = ordersKv(s, d).select(col("k"), col("v").as("c"))
    Snapshots.commit(s, o.filter(col("k") % 2 === 0), tmp, sortCols = Seq("k"))
    Snapshots.renameColumn(tmp, "c", "cust")
    Snapshots.commit(s, o.filter(col("k") % 2 === 1)
      .select(col("k"), col("c").as("cust")), tmp, sortCols = Seq("k"))
  }

  /** Staged WAP lifecycle for snap4: main commit → branch stage →
    * fast-forward, all at STAGE time; the registered query reads the
    * immutable result (fork read, branch read, published read).
    */
  private val wapSnapshotDir = Fixture("graft_wap", "lineitem") { (s, d, tmp) =>
    val li = lineitem(s, d)
    Snapshots.commit(s, li.filter(col("l_shipdate") < lit("1996-01-01")),
      tmp, sortCols = Seq("l_orderkey"))
    Snapshots.createBranch(tmp, "audit")
    Snapshots.commitToBranch(s, li.filter(col("l_shipdate") >= lit("1996-01-01")),
      tmp, "audit", sortCols = Seq("l_orderkey"))
    Snapshots.fastForward(tmp, "audit")
  }

  /** snap3's and eq1's upsert source: key%10 updates mark themselves with
    * a +1_000_000 offset on v, key%100 inserts negate the key. Both are
    * invertible in exact long arithmetic, so the DuckDB oracle
    * reconstructs the post-upsert state from `orders` directly.
    */
  private def upserts(o: DataFrame): DataFrame =
    o.filter(col("k") % 10 === 0)
      .select(col("k"), (col("v") + 1000000L).as("v"))
      .unionAll(o.filter(col("k") % 100 === 0)
        .select((-col("k")).as("k"), col("v")))

  /** Staged commit + one atomic merge of [[upserts]] for snap3. */
  private val mergeSnapshotDir = Fixture("graft_merge", "orders") { (s, d, tmp) =>
    val o = ordersKv(s, d)
    Snapshots.commit(s, o, tmp, sortCols = Seq("k"))
    Snapshots.merge(s, tmp, upserts(o), Seq("k"))
  }

  /** Staged equality-delete lifecycle for eq1: commit, no-scan upsert of
    * [[upserts]] (snap3's algebra), then an equality delete of every
    * visible key % 7 == 0. All at stage time; the tree is immutable
    * afterwards.
    */
  private val eqSnapshotDir = Fixture("graft_eq", "orders") { (s, d, tmp) =>
    val o = ordersKv(s, d)
    Snapshots.commit(s, o, tmp, sortCols = Seq("k"))
    Snapshots.upsertByKeys(s, tmp, upserts(o), Seq("k"))
    Snapshots.deleteByKeys(s, tmp,
      Snapshots.read(s, tmp).filter(col("k") % 7 === 0).select(col("k")))
  }

  /** Staged four-commit CDC lifecycle for cdc1: evens append, odds
    * append, DV delete (v < 1000), no-scan upsert (key%10 → +1e6) — every
    * merge-on-read change class the feed must attribute.
    */
  private val cdcSnapshotDir = Fixture("graft_cdc", "orders") { (s, d, tmp) =>
    val o = ordersKv(s, d)
    Snapshots.commit(s, o.filter(col("k") % 2 === 0), tmp, sortCols = Seq("k"))
    Snapshots.commit(s, o.filter(col("k") % 2 === 1), tmp, sortCols = Seq("k"))
    Snapshots.deleteWhereDV(s, tmp, col("v") < 1000L)
    Snapshots.upsertByKeys(s, tmp,
      o.filter(col("k") % 10 === 0).select(col("k"), (col("v") + 1000000L).as("v")),
      Seq("k"))
  }

  /** Staged tree for rw1: v1 commits orders as (day = o_orderkey % 7,
    * k, v = o_custkey) day-clustered, then TWO identical `replaceWhere`
    * backfills of day 3 with negated values — the second run exercises
    * the idempotency contract (its vector hides the first run's rows
    * before re-appending them), so the final visible state equals one
    * logical application whatever the run count.
    */
  private val replaceWhereDir = Fixture("graft_rw", "orders") { (s, d, tmp) =>
    val src = ordersKv(s, d).select((col("k") % 7).as("day"), col("k"), col("v"))
    Snapshots.commit(s, src, tmp, sortCols = Seq("day"))
    val fix = src.filter(col("day") === 3)
      .select(col("day"), col("k"), (-col("v")).as("v"))
    Snapshots.replaceWhere(s, fix, tmp, col("day") === 3)
    Snapshots.replaceWhere(s, fix, tmp, col("day") === 3)
  }

  /** Staged tree for inc1: orders lands in TWO commits (even keys then
    * odd keys), so an incremental read with the cursor at v1 must return
    * exactly the odd slice.
    */
  private val incrementalDir = Fixture("graft_inc", "orders") { (s, d, tmp) =>
    val kc = Tables.table(s, d, "orders").select(col("o_orderkey").as("k"), cents)
    Snapshots.commit(s, kc.filter(col("k") % 2 === 0), tmp) // v1
    Snapshots.commit(s, kc.filter(col("k") % 2 === 1), tmp) // v2
  }

  /** Staged tree for ty1: v1 commits orders as (k, v = o_custkey cast to
    * INT — the narrow era), then `widenColumn(v, long)` (metadata-only)
    * and an append whose v values exceed Int.MaxValue — so the final
    * table holds int32-encoded files and int64-encoded files under ONE
    * wide schema header, and the head read exercises parquet read-time
    * type widening across eras.
    */
  private val widenDir = Fixture("graft_ty", "orders") { (s, d, tmp) =>
    val o = ordersKv(s, d)
    Snapshots.commit(s, o.select(col("k"), col("v").cast("int").as("v")), tmp)
    Snapshots.widenColumn(tmp, "v", org.apache.spark.sql.types.LongType)
    Snapshots.commit(s, o.select((col("k") + lit(100000000L)).as("k"),
      (col("v") + lit(4000000000L)).as("v")), tmp)
  }

  /** Staged Avro OCF copy of the events slice for avro1, built once per
    * (sf, layout). */
  private val avroOcfDir = Fixture("graft_avro", "events") { (s, d, tmp) =>
    graft.sources.AvroOcf.write(
      s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
      tmp)
  }

  /** Staged events snapshot range-clustered on user_id for j15: runtime
    * pruning needs per-file key locality to have files to skip. 64 range
    * partitions stand in for the many-file layout a real multi-executor
    * ingest produces.
    */
  private val clusteredEventsDir = Fixture("graft_rtp", "events") { (s, d, tmp) =>
    Snapshots.commit(s,
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .repartitionByRange(64, col("user_id")),
      tmp, sortCols = Seq("user_id"))
  }

  /** Staged row-lineage lifecycle for lin1. Commits are single-partition
    * and doc_id-sorted, so each file's row order is doc_id order and
    * every assigned id is derivable by row_number arithmetic (see the
    * query comment).
    */
  private val lineageSrc = Fixture("graft_lineage", "documents") { (s, d, tmp) =>
    val docs = Tables.table(s, d, "documents").select(col("doc_id"), col("lang"))
    def slice(cond: Column) = docs.filter(cond).repartition(1)
    Snapshots.commit(s, slice(col("doc_id") % 4 < 2), tmp, sortCols = Seq("doc_id"))
    Snapshots.enableRowLineage(tmp) // backfills the pre-enable commit
    Snapshots.commit(s, slice(col("doc_id") % 4 === 2), tmp, sortCols = Seq("doc_id"))
    Snapshots.deleteWhereDV(s, tmp, col("doc_id") % 10 === 3)
    Snapshots.compact(s, tmp, numFiles = 1) // ids materialize physically
    Snapshots.commit(s, slice(col("doc_id") % 4 === 3), tmp,
      sortCols = Seq("doc_id")) // post-compact metadata assignment
  }

  /** The shallow clone of [[lineageSrc]] that lin1 reads — so ids must
    * also survive the clone's by-path file sharing and sidecar carry.
    */
  private val lineageDir = Fixture("graft_lineage", "documents", suffix = "_clone") {
    (s, d, tmp) => Snapshots.clone(s, lineageSrc(s, d), tmp)
  }

  private def register(s: SparkSession, cat: String, warehouse: String): Unit = {
    s.conf.set(s"spark.sql.catalog.$cat", "graft.connector.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
  }

  /** The query catalog over a catalog fixture's warehouse: `<root>_<fp>`. */
  private def catalog(f: Fixture, s: SparkSession, d: String): String =
    s"${f.root}_${Fixture.fingerprintOf(f(s, d))}"

  /** A catalog warehouse staged through pure SQL DDL: namespace `core`,
    * then `ddl(buildCatalog, sourceView)`, where the source view is
    * `source` over the fingerprinted table, under the session settings
    * `conf`. Build and query use DIFFERENT catalog names keyed by the
    * warehouse fingerprint: catalog instances are cached by name at first
    * use, and the build's instance points at the pre-rename staging dir.
    * Every use registers the query catalog, then runs `afterPublish(s,
    * catalog, base)` for steps that must see the published warehouse.
    */
  private def catalogFixture(root: String, table: String, source: DataFrame => DataFrame,
                             conf: Map[String, String] = Map.empty,
                             afterPublish: (SparkSession, String, String) => Unit =
                               (_, _, _) => ())(
      ddl: (String, String) => Seq[String]): Fixture =
    Fixture(root, table, after = { (s, base) =>
      val cat = s"${root}_${Fixture.fingerprintOf(base)}"
      register(s, cat, base)
      afterPublish(s, cat, base)
    }) { (s, d, tmp) =>
      val bld = s"${root}_bld_${Fixture.fingerprintOf(Fixture.cacheBase(root, d, table))}"
      register(s, bld, tmp)
      source(Tables.table(s, d, table)).createOrReplaceTempView(s"${root}_src")
      s.sql(s"CREATE NAMESPACE $bld.core")
      val prev = conf.keys.map(k => k -> s.conf.getOption(k))
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      try ddl(bld, s"${root}_src").foreach(s.sql)
      finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }

  /** Staged catalog warehouse for cat1 (table `core.orders`: v1 =
    * CREATE's empty schema commit, v2 = the even-keyed slice, v3 = the
    * odd).
    */
  private val catalogOrders = catalogFixture("graft_cat", "orders",
      _.select(col("o_orderkey"), col("o_totalprice"))) { (bld, src) => Seq(
    // explicit CREATE + INSERT (not CTAS) so the version topology the
    // oracle pins (v1 empty, v2 evens, v3 all) is stable — atomic CTAS
    // (round 10) folds schema + data into ONE commit and would shift it
    s"CREATE TABLE $bld.core.orders (o_orderkey BIGINT, o_totalprice DOUBLE)",
    s"INSERT INTO $bld.core.orders SELECT * FROM $src WHERE o_orderkey % 2 = 0",
    s"INSERT INTO $bld.core.orders SELECT * FROM $src WHERE o_orderkey % 2 = 1")
  }

  /** Staged warehouse for cat2: `core.ev` is DECLARED `PARTITIONED BY
    * (days(ts))` — Iceberg's headline hidden-partitioning shape — which
    * the engine re-expresses as range-clustering on the base column `ts`
    * (strictly finer than day granularity; see GraftCatalog.createTable).
    * The INSERT caps records-per-file so the clustered write lands in
    * several contiguous-day files and a day-range predicate prunes most
    * of them at planning time through the footer stats.
    */
  private val catalogHidden = catalogFixture("graft_cat2", "events",
      _.select(col("event_id"), col("ts"), col("user_id"), col("value")),
      conf = Map("spark.sql.files.maxRecordsPerFile" -> "2500")) { (bld, src) => Seq(
    s"CREATE TABLE $bld.core.ev " +
      "(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE) " +
      "PARTITIONED BY (days(ts))",
    s"INSERT INTO $bld.core.ev SELECT * FROM $src")
  }

  /** Staged warehouse for dv1: `core.dv` created with a declared column
    * default, filled through three INSERT eras (omitted column → write
    * default; pre-ADD rows → initial default via files physically
    * missing the column; post-ADD rows → explicit values).
    */
  private val catalogDefaults = catalogFixture("graft_dflt", "orders",
      _.select(col("o_orderkey").as("k"), col("o_custkey").as("v"))) { (bld, src) => Seq(
    s"CREATE TABLE $bld.core.dv (k BIGINT, c BIGINT DEFAULT 7)",
    s"INSERT INTO $bld.core.dv (k) SELECT k FROM $src WHERE k % 3 = 0",
    s"INSERT INTO $bld.core.dv SELECT k, v FROM $src WHERE k % 3 = 1",
    s"ALTER TABLE $bld.core.dv ADD COLUMN d BIGINT DEFAULT 42",
    s"INSERT INTO $bld.core.dv SELECT k, v, v + 1 FROM $src WHERE k % 3 = 2")
  }

  /** Staged warehouse for gen1: `core.g` declares an IDENTITY column and
    * a GENERATED ALWAYS AS (cents * 2) column; ONE INSERT from orders
    * fills both engine-side (ids from one claimed range = 1..n exactly).
    */
  private val catalogGenerated = catalogFixture("graft_gen", "orders",
      _.select(col("o_orderkey").as("k"), cents)) { (bld, src) => Seq(
    s"CREATE TABLE $bld.core.g (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "k BIGINT, cents BIGINT, " +
      "dbl BIGINT GENERATED ALWAYS AS (cents * 2))",
    s"INSERT INTO $bld.core.g (k, cents) SELECT k, cents FROM $src")
  }

  /** Staged warehouse for cl1: `core.src` = (k, cents) from orders, then
    * `CALL system.clone` → `core.dup` (zero-copy) and a DV DELETE of the
    * %7=0 slice ON THE CLONE ONLY — divergence over shared files.
    *
    * The clone must happen AFTER the staged rename: its manifest records
    * the source's data files by ABSOLUTE path, and a clone taken inside
    * the staging dir would dangle once the tree publishes. Both steps
    * are idempotent across racing runs: the clone's create is the
    * manifest CAS (the loser's attempt refuses and is swallowed), and a
    * duplicate DELETE commit hides zero new rows.
    */
  private val catalogClone = catalogFixture("graft_cl", "orders",
      _.select(col("o_orderkey").as("k"), cents),
      afterPublish = { (s, cat, base) =>
        val dup = s"$base/core/dup"
        if (Snapshots.versions(dup).isEmpty) {
          try s.sql(s"CALL $cat.system.clone(source => 'core.src', dest => 'core.dup')")
          catch { case _: IllegalArgumentException => () }
        }
        val head = Snapshots.versions(dup).max
        if (!Snapshots.modeOf(dup, head).startsWith("delete-dv"))
          s.sql(s"DELETE FROM $cat.core.dup WHERE k % 7 = 0")
      }) { (bld, src) => Seq(
    s"CREATE TABLE $bld.core.src (k BIGINT, cents BIGINT)",
    s"INSERT INTO $bld.core.src SELECT k, cents FROM $src")
  }

  /** Staged warehouse for vw1: `core.t` = (k, cents, st) from orders,
    * plus a persisted SQL view `core.v` (even keys, bucketed) created
    * through the ViewCatalog API. The view is created AFTER the staged
    * rename, against the query-name catalog instance (a view stores its
    * definition catalog context, and the build-name instance points at
    * the pre-rename staging dir); creation is create-exclusive, so a
    * concurrent run's duplicate attempt loses the CAS harmlessly.
    */
  private val catalogView = catalogFixture("graft_vw", "orders",
      _.select(col("o_orderkey").as("k"), cents, col("o_orderstatus").as("st")),
      afterPublish = { (s, cat, _) =>
        import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog, ViewInfo}
        val vc = s.sessionState.catalogManager.catalog(cat).asInstanceOf[ViewCatalog]
        val ident = Identifier.of(Array("core"), "v")
        if (!vc.viewExists(ident)) {
          val body = "SELECT st, k % 97 AS bucket, cents FROM t WHERE k % 2 = 0"
          val schema = s.sql(
            s"SELECT st, k % 97 AS bucket, cents FROM $cat.core.t WHERE k % 2 = 0").schema
          try vc.createView(new ViewInfo(ident, body, cat, Array("core"), schema,
            schema.fieldNames, Array.empty, Array.empty,
            java.util.Collections.emptyMap()))
          catch { case _: org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException => () }
        }
      }) { (bld, src) => Seq(
    s"CREATE TABLE $bld.core.t (k BIGINT, cents BIGINT, st STRING)",
    s"INSERT INTO $bld.core.t SELECT k, cents, st FROM $src")
  }

  /** Staged warehouse for mrg4: `core.me` = (k, v INT) from orders, then
    * ONE `MERGE WITH SCHEMA EVOLUTION` whose source carries a BIGINT `v`
    * (beyond Int range — forces the widening ALTER) plus a brand-new
    * `st` column (forces the ADD COLUMN): the %3=0 slice updates where
    * keys match and inserts under negated keys (%15=0). The analyzer
    * applies both ALTERs through the catalog before the merge plans.
    */
  private val catalogMergeEvolve = catalogFixture("graft_me", "orders",
      _.select(col("o_orderkey").as("k"), col("o_custkey").as("v"),
        col("o_orderstatus").as("os"))) { (bld, src) => Seq(
    s"CREATE TABLE $bld.core.me (k BIGINT, v INT)",
    s"INSERT INTO $bld.core.me SELECT k, CAST(v AS INT) FROM $src",
    s"""MERGE WITH SCHEMA EVOLUTION INTO $bld.core.me AS t
       |USING (SELECT CASE WHEN k % 5 = 0 THEN -k ELSE k END AS k,
       |              v + 3000000000 AS v, os AS st
       |       FROM $src WHERE k % 3 = 0) AS s
       |ON t.k = s.k
       |WHEN MATCHED THEN UPDATE SET *
       |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
  }

  /** Staged warehouse for rt1: `core.rt` = (k, v) from orders (v1 empty
    * create, v2 insert), then ONE atomic `REPLACE TABLE ... AS SELECT`
    * (v3) swaps the table for its own per-residue aggregate — the
    * derived-table refresh pattern RTAS exists for.
    */
  private val catalogReplaceTable = catalogFixture("graft_rt", "orders",
      _.select(col("o_orderkey").as("k"), col("o_custkey").as("v"))) { (bld, src) => Seq(
    s"CREATE TABLE $bld.core.rt (k BIGINT, v BIGINT)",
    s"INSERT INTO $bld.core.rt SELECT k, v FROM $src",
    s"REPLACE TABLE $bld.core.rt AS " +
      "SELECT k % 10 AS bucket, count(*) AS n, CAST(sum(v) AS BIGINT) AS sv " +
      s"FROM $src GROUP BY k % 10")
  }

  /** Staged warehouse for mrg3: `core.om` = (o_orderkey, o_custkey) as
    * (k, v), then ONE SQL MERGE (v3) applying delete/update/
    * not-matched-by-source clauses.
    */
  private val catalogMerge = catalogFixture("graft_catm", "orders",
      _.select(col("o_orderkey").as("k"), col("o_custkey").as("v"))) { (bld, src) => Seq(
    // explicit CREATE + INSERT: same topology-stability rationale as
    // cat1 (the oracle pins VERSION AS OF 2 = pre-merge)
    s"CREATE TABLE $bld.core.om (k BIGINT, v BIGINT)",
    s"INSERT INTO $bld.core.om SELECT k, v FROM $src",
    s"""MERGE INTO $bld.core.om AS t
       |USING (SELECT k, v FROM $src WHERE k % 2 = 0) AS s
       |ON t.k = s.k
       |WHEN MATCHED AND t.k % 10 = 0 THEN DELETE
       |WHEN MATCHED THEN UPDATE SET v = t.v + 1000000
       |WHEN NOT MATCHED BY SOURCE AND t.k % 3 = 0 THEN UPDATE SET v = 0
       |""".stripMargin)
  }

  private val oracle =
    s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
       |FROM events
       |WHERE user_id = $PK AND epoch_us(ts) BETWEEN $LO AND $HI""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "ref_range_query"  -> oracle,
    "ref_ingest_query" -> oracle,
    "ref_bloom_point" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
         |FROM events WHERE event_id = $PointEventId""".stripMargin,
    "snap1_time_travel" ->
      """SELECT 1 AS snap, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
        |UNION ALL
        |SELECT 2, count(*), round(sum(l_quantity), 2) FROM lineitem
        |UNION ALL
        |SELECT 3, count(*), round(sum(l_quantity), 2)
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'""".stripMargin,
    "snap2_dv_delete" ->
      """SELECT 1 AS snap, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |UNION ALL
        |SELECT 2, count(*), round(sum(l_quantity), 2)
        |FROM lineitem WHERE NOT (l_quantity < 5)""".stripMargin,
    "snap5_rename" ->
      """SELECT 1 AS snap, count(*) AS n_rows, CAST(sum(o_custkey) AS BIGINT) AS sum_c
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 2, count(*), CAST(sum(o_custkey) AS BIGINT) FROM orders""".stripMargin,
    "snap4_wap" ->
      """SELECT 1 AS snap, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |UNION ALL
        |SELECT 2, count(*), round(sum(l_quantity), 2) FROM lineitem
        |UNION ALL
        |SELECT 3, count(*), round(sum(l_quantity), 2) FROM lineitem""".stripMargin,
    "mv1_incremental_agg" ->
      """SELECT l_orderkey, count(*) AS n_rows,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_v
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "mv4_auto_rewrite" ->
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_v,
        |  CAST(sum(l_quantity) AS DOUBLE) / count(*) AS avg_v,
        |  true AS rewrite_fired
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "mv5_rewrite_filtered" ->
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_v,
        |  true AS rewrite_fired
        |FROM lineitem WHERE l_orderkey % 3 = 0
        |GROUP BY l_orderkey""".stripMargin,
    "mv6_rewrite_having" ->
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_v,
        |  CAST(sum(l_quantity) AS DOUBLE) / count(*) AS avg_v,
        |  true AS rewrite_fired
        |FROM lineitem GROUP BY l_orderkey
        |HAVING CAST(sum(l_quantity) AS DOUBLE) >= 100.0 AND count(*) >= 3""".stripMargin,
    "mv7_rewrite_rollup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_v,
        |  CAST(sum(l_quantity) AS DOUBLE) / count(*) AS avg_v,
        |  true AS rewrite_fired
        |FROM lineitem""".stripMargin,
    "mv2_minmax_view" ->
      """SELECT l_orderkey, count(*) AS n_rows,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_v,
        |  CAST(min(l_quantity) AS DOUBLE) AS min_v,
        |  CAST(max(l_quantity) AS DOUBLE) AS max_v
        |FROM lineitem WHERE NOT (l_quantity < 5)
        |GROUP BY l_orderkey""".stripMargin,
    "mv3_distinct_view" ->
      """SELECT l_orderkey, count(*) AS n_rows,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_v,
        |  CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv
        |FROM lineitem WHERE NOT (l_quantity < 5)
        |GROUP BY l_orderkey""".stripMargin,
    // mv8: final state recomputed from fact ⋈ dim — both committed halves
    // minus the DV-deleted rows, grouped by the dimension attribute.
    // Quantities are small integers, so the incrementally-summed double
    // equals the from-scratch sum at any accumulation order.
    "mv8_join_view" ->
      """SELECT o.o_orderpriority, count(*) AS n_rows,
        |  CAST(sum(l.l_quantity) AS DOUBLE) AS sum_v
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE NOT (l.l_quantity < 5)
        |GROUP BY o.o_orderpriority""".stripMargin,
    "zo1_zorder_box" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
         |FROM events
         |WHERE user_id BETWEEN 30 AND 60
         |  AND epoch_us(ts) BETWEEN $LO AND $HI
         |  AND value >= 200.0""".stripMargin,
    "cn1_connector_read" ->
      """SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01'""".stripMargin,
    "cn2_connector_sql" ->
      """SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'""".stripMargin,
    "cat1_catalog_sql" ->
      """SELECT 1 AS snap, count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_p
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 2, count(*), round(sum(o_totalprice), 2) FROM orders""".stripMargin,
    "inc1_incremental_read" ->
      """SELECT CAST(1 AS BIGINT) AS part, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders WHERE o_orderkey % 2 = 1
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM orders""".stripMargin,
    "lin1_row_lineage" ->
      """WITH a AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS row_id
        |  FROM documents WHERE doc_id % 4 < 2),
        |b AS (
        |  SELECT doc_id, lang,
        |    (SELECT count(*) FROM documents WHERE doc_id % 4 < 2)
        |      + row_number() OVER (ORDER BY doc_id) - 1 AS row_id
        |  FROM documents WHERE doc_id % 4 = 2),
        |c AS (
        |  SELECT doc_id, lang,
        |    (SELECT count(*) FROM documents WHERE doc_id % 4 < 3)
        |      + row_number() OVER (ORDER BY doc_id) - 1 AS row_id
        |  FROM documents WHERE doc_id % 4 = 3)
        |SELECT doc_id, lang, row_id
        |FROM (SELECT * FROM a UNION ALL SELECT * FROM b
        |      UNION ALL SELECT * FROM c) u
        |WHERE NOT (doc_id % 10 = 3 AND doc_id % 4 <> 3)""".stripMargin,
    "gen1_identity_generated" ->
      """SELECT count(*) AS n, CAST(1 AS BIGINT) AS min_id,
        |  count(*) AS max_id,
        |  CAST(count(*) * (count(*) + 1) / 2 AS BIGINT) AS sum_id,
        |  CAST(0 AS BIGINT) AS gen_drift, count(*) AS n_gen
        |FROM orders""".stripMargin,
    "cl1_shallow_clone" ->
      """SELECT 1 AS tbl, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,
    "vw1_sql_view" ->
      """SELECT o_orderstatus AS st, o_orderkey % 97 AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY 1, 2""".stripMargin,
    "mrg4_merge_evolve" ->
      """WITH src AS (
        |  SELECT CASE WHEN o_orderkey % 5 = 0 THEN -o_orderkey
        |              ELSE o_orderkey END AS k,
        |         o_custkey + 3000000000 AS v, o_orderstatus AS st
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |tgt AS (SELECT o_orderkey AS k, o_custkey AS v FROM orders),
        |merged AS (
        |  SELECT t.k, COALESCE(s.v, t.v) AS v, s.st AS st
        |  FROM tgt t LEFT JOIN src s ON t.k = s.k
        |  UNION ALL
        |  SELECT k, v, st FROM src WHERE k < 0)
        |SELECT count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v,
        |  count(st) AS n_status, CAST(min(k) AS BIGINT) AS min_k
        |FROM merged""".stripMargin,
    "rt1_replace_table" ->
      """SELECT 1 AS snap, count(*) AS n_rows,
        |  CAST(sum(o_custkey) AS BIGINT) AS total
        |FROM orders
        |UNION ALL
        |SELECT 2, count(DISTINCT o_orderkey % 10),
        |  CAST(sum(o_custkey) AS BIGINT)
        |FROM orders""".stripMargin,
    "dv1_default_values" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 7
        |                ELSE o_custkey END) AS BIGINT) AS sum_c,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 2 THEN o_custkey + 1
        |                ELSE 42 END) AS BIGINT) AS sum_d,
        |  CAST(sum(CASE WHEN o_orderkey % 3 <> 2 OR o_custkey + 1 = 42
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_init
        |FROM orders""".stripMargin,
    "ty1_type_widening" ->
      """SELECT 1 AS snap, count(*) AS n_rows,
        |  CAST(sum(CAST(o_custkey AS INTEGER)) AS BIGINT) AS sum_v,
        |  CAST(0 AS BIGINT) AS n_wide
        |FROM orders
        |UNION ALL
        |SELECT 2, 2 * count(*),
        |  CAST(sum(o_custkey) + sum(o_custkey + 4000000000) AS BIGINT),
        |  count(*)
        |FROM orders""".stripMargin,
    "rw1_replace_where" ->
      """SELECT 1 AS snap, count(*) AS n_rows,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_v,
        |  CAST(sum(CASE WHEN o_orderkey % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_day3
        |FROM orders
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(sum(CASE WHEN o_orderkey % 7 = 3 THEN -o_custkey
        |                ELSE o_custkey END) AS BIGINT),
        |  CAST(sum(CASE WHEN o_orderkey % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders""".stripMargin,
    "cat2_hidden_partition" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_v100
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY CAST(ts AS DATE)""".stripMargin,
    "avro1_ocf_roundtrip" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT event_type) AS n_types,
        |  round(sum(value), 2) AS sum_v
        |FROM events""".stripMargin,
    "j15_runtime_prune" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT e.user_id) AS n_users,
        |  round(sum(e.value), 2) AS sum_v
        |FROM events e
        |JOIN (SELECT DISTINCT o_custkey FROM orders
        |      WHERE o_totalprice > 499000) c
        |  ON e.user_id = c.o_custkey""".stripMargin,
    "mrg3_merge_sql" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS v FROM orders),
        |final AS (
        |  SELECT k, CASE WHEN k % 2 = 0 THEN v + 1000000
        |                 WHEN k % 3 = 0 THEN 0 ELSE v END AS v
        |  FROM o WHERE NOT (k % 10 = 0))
        |SELECT 1 AS snap, count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(sum(CASE WHEN v >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_upd
        |FROM o
        |UNION ALL
        |SELECT 2, count(*), CAST(sum(v) AS BIGINT),
        |  CAST(sum(CASE WHEN v >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM final""".stripMargin,
    "eq1_upsert_noscan" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS v FROM orders),
        |upserted AS (
        |  SELECT k, CASE WHEN k % 10 = 0 THEN v + 1000000 ELSE v END AS v FROM o
        |  UNION ALL
        |  SELECT -k, v FROM o WHERE k % 100 = 0),
        |final AS (SELECT * FROM upserted WHERE k % 7 <> 0)
        |SELECT 1 AS snap, count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(sum(CASE WHEN v >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_upd
        |FROM o
        |UNION ALL
        |SELECT 2, count(*), CAST(sum(v) AS BIGINT),
        |  CAST(sum(CASE WHEN v >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM final""".stripMargin,
    "cdc1_change_feed" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS v FROM orders)
        |SELECT 1 AS cv, 'insert' AS ct, count(*) AS n,
        |  CAST(sum(v) AS BIGINT) AS sum_v FROM o WHERE k % 2 = 0
        |UNION ALL
        |SELECT 2, 'insert', count(*), CAST(sum(v) AS BIGINT)
        |FROM o WHERE k % 2 = 1
        |UNION ALL
        |SELECT 3, 'delete', count(*), CAST(sum(v) AS BIGINT)
        |FROM o WHERE v < 1000
        |UNION ALL
        |SELECT 4, 'insert', count(*), CAST(sum(v + 1000000) AS BIGINT)
        |FROM o WHERE k % 10 = 0
        |UNION ALL
        |SELECT 4, 'delete', count(*), CAST(sum(v) AS BIGINT)
        |FROM o WHERE k % 10 = 0 AND NOT (v < 1000)""".stripMargin,
    "snap3_merge_upsert" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS v FROM orders),
        |final AS (
        |  SELECT k, CASE WHEN k % 10 = 0 THEN v + 1000000 ELSE v END AS v FROM o
        |  UNION ALL
        |  SELECT -k, v FROM o WHERE k % 100 = 0)
        |SELECT 1 AS snap, count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(sum(CASE WHEN v >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_upd
        |FROM o
        |UNION ALL
        |SELECT 2, count(*), CAST(sum(v) AS BIGINT),
        |  CAST(sum(CASE WHEN v >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM final""".stripMargin
  )
}
