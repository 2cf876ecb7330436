package graft

import org.apache.spark.sql.functions._
import graft.ingest.{MatView, Snapshots}

/** Incremental MV refresh must equal a full recompute after any append
  * sequence, refresh idempotently, and refuse non-append sources.
  */
class MatViewSpec extends SparkSuite {

  private def state(mv: String): Map[String, (Long, Double)] =
    Snapshots.read(spark, mv).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("incremental refresh equals full recompute across appends") {
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv")
    val (src, mv) = (s"$root/src", s"$root/mv")
    Snapshots.commit(spark, Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    assert(state(mv) === Map("a" -> (2L, 3.0), "b" -> (1L, 10.0)))
    // append touching one existing group and one new group
    Snapshots.commit(spark, Seq(("a", 4L), ("c", 7L)).toDF("k", "v"), src)
    val v2 = MatView.refresh(spark, mv, src, Seq("k"), "v")
    assert(state(mv) === Map("a" -> (3L, 7.0), "b" -> (1L, 10.0), "c" -> (1L, 7.0)))
    // untouched group b carried by path through the DV merge; refresh is
    // a no-op when already fresh
    assert(MatView.refresh(spark, mv, src, Seq("k"), "v") === v2)
    // the view time-travels: as of its first refresh, c didn't exist
    val v1 = Snapshots.versions(mv).head
    assert(Snapshots.read(spark, mv, Some(v1)).collect()
      .map(_.getString(0)).toSet === Set("a", "b"))
  }

  test("join view: enrich maintains a dimension-keyed aggregate through append + delete") {
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv_join")
    val (src, mv) = (s"$root/src", s"$root/mv")
    // immutable dimension: fact key -> region attribute the fact lacks
    val dim = Seq((1L, "east"), (2L, "east"), (3L, "west")).toDF("dk", "region")
    val enrich: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.join(broadcast(dim), col("k") === col("dk"))
    def joined(mv: String): Map[String, (Long, Double)] =
      Snapshots.read(spark, mv).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    Snapshots.commit(spark, Seq((1L, 1L), (2L, 2L), (3L, 10L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("region"), "v", enrich = enrich)
    assert(joined(mv) === Map("east" -> (2L, 3.0), "west" -> (1L, 10.0)))
    // append touches east through BOTH dim keys; then a DV delete removes
    // a west row — the subtractive leg must flow THROUGH the join
    Snapshots.commit(spark, Seq((1L, 4L), (2L, 5L), (3L, 20L)).toDF("k", "v"), src)
    Snapshots.deleteWhereDV(spark, src, col("v") === 10L)
    MatView.refresh(spark, mv, src, Seq("region"), "v", enrich = enrich)
    assert(joined(mv) === Map("east" -> (4L, 12.0), "west" -> (1L, 20.0)))
    // equality with a from-scratch rebuild over the same source state
    val rebuilt = s"$root/mv2"
    MatView.refresh(spark, rebuilt, src, Seq("region"), "v", enrich = enrich)
    assert(joined(rebuilt) === joined(mv))
    // a group whose rows all vanish is tombstoned out, through the join
    Snapshots.deleteWhereDV(spark, src, col("v") === 20L)
    MatView.refresh(spark, mv, src, Seq("region"), "v", enrich = enrich)
    assert(joined(mv) === Map("east" -> (4L, 12.0)))
  }

  test("compacting the view does not break later refreshes (watermark walk-back)") {
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv_compact")
    val (src, mv) = (s"$root/src", s"$root/mv")
    Snapshots.commit(spark, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    // view maintenance commit: mode "overwrite", no watermark tag — the
    // next refresh must walk back to the last tagged version, not parse
    // "overwrite" as a number
    Snapshots.compact(spark, mv, numFiles = 1)
    Snapshots.commit(spark, Seq(("a", 10L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    assert(state(mv) === Map("a" -> (2L, 11.0), "b" -> (1L, 2.0)))
    // refreshing backwards is refused loudly
    intercept[IllegalArgumentException] {
      MatView.refresh(spark, mv, src, Seq("k"), "v",
        upTo = Some(Snapshots.versions(src).head))
    }
  }

  test("initial build works over a source whose HISTORY has non-appends") {
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv_hist")
    val (src, mv) = (s"$root/src", s"$root/mv")
    Snapshots.commit(spark, Seq(("a", 1L)).toDF("k", "v"), src)
    Snapshots.commit(spark, Seq(("a", 5L), ("b", 3L)).toDF("k", "v"), src,
      mode = "overwrite")
    // the full-snapshot initial read is correct whatever the history
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    assert(state(mv) === Map("a" -> (1L, 5.0), "b" -> (1L, 3.0)))
    // but the INCREMENTAL path still refuses a subsequent non-append
    Snapshots.commit(spark, Seq(("c", 1L)).toDF("k", "v"), src, mode = "overwrite")
    intercept[IllegalArgumentException] {
      MatView.refresh(spark, mv, src, Seq("k"), "v")
    }
  }

  test("a rolled-back view refuses refresh (state/watermark desync)") {
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv_rb")
    val (src, mv) = (s"$root/src", s"$root/mv")
    Snapshots.commit(spark, Seq(("a", 1L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    Snapshots.commit(spark, Seq(("a", 2L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    Snapshots.rollback(mv, Snapshots.versions(mv).head)
    Snapshots.commit(spark, Seq(("a", 4L)).toDF("k", "v"), src)
    intercept[IllegalArgumentException] {
      MatView.refresh(spark, mv, src, Seq("k"), "v")
    }
  }

  test("incremental refresh consumes merges and DV deletes (subtractive IVM)") {
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv_subtract")
    val (src, mv) = (s"$root/src", s"$root/mv")
    Snapshots.commit(spark, Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    assert(state(mv) === Map("a" -> (2L, 3.0), "b" -> (1L, 10.0)))
    // a MERGE replaces both of a's rows with one: +new −old must net out
    Snapshots.merge(spark, src, Seq(("a", 100L)).toDF("k", "v"), Seq("k"))
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    assert(state(mv) === Map("a" -> (1L, 100.0), "b" -> (1L, 10.0)))
    // a DV delete empties group b entirely — its view row must VANISH
    // (tombstone cleanup), matching a full recompute
    Snapshots.deleteWhereDV(spark, src, col("v") === 10L)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    assert(state(mv) === Map("a" -> (1L, 100.0)))
    // append still composes after subtractive deltas
    Snapshots.commit(spark, Seq(("a", 7L), ("c", 1L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    assert(state(mv) === Map("a" -> (2L, 107.0), "c" -> (1L, 1.0)))
  }

  test("a rollback buried under a maintenance commit still refuses refresh") {
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv_rb_buried")
    val (src, mv) = (s"$root/src", s"$root/mv")
    Snapshots.commit(spark, Seq(("a", 1L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    Snapshots.commit(spark, Seq(("a", 2L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    Snapshots.rollback(mv, Snapshots.versions(mv).head)
    // a tagless maintenance commit lands ON TOP of the rollback — a
    // head-only guard would miss it and the walk-back would then find the
    // stale pre-rollback watermark against rolled-back state
    Snapshots.compact(spark, mv, numFiles = 1)
    Snapshots.commit(spark, Seq(("a", 4L)).toDF("k", "v"), src)
    val e = intercept[IllegalArgumentException] {
      MatView.refresh(spark, mv, src, Seq("k"), "v")
    }
    assert(e.getMessage.contains("rolled back"))
  }

  test("a non-empty view with no surviving watermark refuses, not rebuild-merges") {
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv_nowm")
    val (src, mv) = (s"$root/src", s"$root/mv")
    Snapshots.commit(spark, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), src)
    // a view TREE that holds state but no append:vN/merge:vN commit —
    // what compact + expire(keepLast=1) leaves behind. Defaulting the
    // watermark to 0 here would MERGE a full re-aggregate into the
    // existing rows and double-count every group.
    Snapshots.commit(spark,
      Seq(("a", 1L, 1.0)).toDF("k", "n_rows", "sum_v"), mv)
    val e = intercept[IllegalStateException] {
      MatView.refresh(spark, mv, src, Seq("k"), "v")
    }
    assert(e.getMessage.contains("watermark"))
  }

  test("a non-append source version fails the refresh loudly") {
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv_guard")
    val (src, mv) = (s"$root/src", s"$root/mv")
    Snapshots.commit(spark, Seq(("a", 1L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    Snapshots.commit(spark, Seq(("a", 5L)).toDF("k", "v"), src, mode = "overwrite")
    intercept[IllegalArgumentException] {
      MatView.refresh(spark, mv, src, Seq("k"), "v")
    }
  }

  private def mmState(mv: String): Map[String, (Long, Double, Double, Double)] =
    Snapshots.read(spark, mv).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap

  test("min/max views: additive under appends, recompute-touched under deletes") {
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv_minmax")
    val (src, mv) = (s"$root/src", s"$root/mv")
    Snapshots.commit(spark,
      Seq(("a", 5L), ("a", 9L), ("b", 3L), ("b", 7L), ("b", 10L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v", withMinMax = true)
    assert(mmState(mv) === Map(
      "a" -> ((2L, 14.0, 5.0, 9.0)), "b" -> ((3L, 20.0, 3.0, 10.0))))
    // additive leg: appended extremes fold in via least/greatest
    Snapshots.commit(spark, Seq(("a", 1L), ("b", 12L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v", withMinMax = true)
    assert(mmState(mv) === Map(
      "a" -> ((3L, 15.0, 1.0, 9.0)), "b" -> ((4L, 32.0, 3.0, 12.0))))
    // subtractive leg, extremum removed: a's max (9) dies -> recompute
    // must find the runner-up (5), while b's interior delete (7: strictly
    // inside 3..12) must stay on the additive path and keep both extremes
    Snapshots.deleteWhereDV(spark, src, (col("k") === "a" && col("v") === 9L) ||
      (col("k") === "b" && col("v") === 7L))
    MatView.refresh(spark, mv, src, Seq("k"), "v", withMinMax = true)
    assert(mmState(mv) === Map(
      "a" -> ((2L, 6.0, 1.0, 5.0)), "b" -> ((3L, 25.0, 3.0, 12.0))))
    // the view still equals a full recompute of the live source
    val full = Snapshots.read(spark, src).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").cast("double").as("s"),
        min("v").cast("double").as("mn"), max("v").cast("double").as("mx"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(mmState(mv) === full)
    // a group deleted entirely is tombstoned out, not left as a zombie row
    Snapshots.deleteWhereDV(spark, src, col("k") === "a")
    MatView.refresh(spark, mv, src, Seq("k"), "v", withMinMax = true)
    assert(mmState(mv).keySet === Set("b"))
    // a group NEW in the window whose rows are appended AND partially
    // deleted before ONE refresh consumes both: its additive candidates
    // include the dead rows (changes() reads added files raw), so the
    // at-risk test must treat no-stored-extremum + removals as at risk
    Snapshots.commit(spark, Seq(("c", 1L), ("c", 20L), ("c", 6L)).toDF("k", "v"), src)
    Snapshots.deleteWhereDV(spark, src, col("k") === "c" && col("v") === 1L)
    MatView.refresh(spark, mv, src, Seq("k"), "v", withMinMax = true)
    assert(mmState(mv)("c") === ((2L, 26.0, 6.0, 20.0)))
    // the stored schema wins over the caller's flag: a refresh that
    // forgets withMinMax keeps maintaining the extremes
    Snapshots.commit(spark, Seq(("b", 99L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    assert(mmState(mv)("b") === ((4L, 124.0, 3.0, 99.0)))
    // and a plain view cannot be silently retrofitted with min/max
    val plain = s"$root/mv_plain"
    MatView.refresh(spark, plain, src, Seq("k"), "v")
    intercept[IllegalArgumentException] {
      Snapshots.commit(spark, Seq(("z", 1L)).toDF("k", "v"), src)
      MatView.refresh(spark, plain, src, Seq("k"), "v", withMinMax = true)
    }
  }

  test("distinct-sketch views: union under appends, rebuild-touched under deletes") {
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv_dn")
    val (src, mv, mvR) = (s"$root/src", s"$root/mv", s"$root/mvR")
    def ndvState(v: String): Map[String, (Long, Long)] =
      Snapshots.read(spark, v)
        .select(col("k"), col("n_rows"), expr("hll_sketch_estimate(ndv_sketch)"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // batch 1: a has distinct values {1,2} (2 twice), b has {10}
    Snapshots.commit(spark,
      Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 10L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v", distinctCol = "v")
    assert(ndvState(mv) === Map("a" -> (3L, 2L), "b" -> (1L, 1L)))
    // append: a gains value 5 (union path), c is new
    Snapshots.commit(spark, Seq(("a", 5L), ("c", 7L)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v", distinctCol = "v")
    assert(ndvState(mv) === Map("a" -> (4L, 3L), "b" -> (1L, 1L), "c" -> (1L, 1L)))
    // delete BOTH rows of a's value 2: the union path could never shrink
    // the sketch - the rebuild-touched pass must
    Snapshots.deleteWhereDV(spark, src, col("k") === "a" && col("v") === 2L)
    MatView.refresh(spark, mv, src, Seq("k"), "v", distinctCol = "v")
    assert(ndvState(mv) === Map("a" -> (2L, 2L), "b" -> (1L, 1L), "c" -> (1L, 1L)))
    // incremental state equals a from-scratch rebuild at the same version
    MatView.refresh(spark, mvR, src, Seq("k"), "v", distinctCol = "v")
    assert(ndvState(mv) === ndvState(mvR))
    // guards: a sketch view must always receive its distinctCol; a plain
    // view cannot be retrofitted
    intercept[IllegalArgumentException] {
      Snapshots.commit(spark, Seq(("z", 1L)).toDF("k", "v"), src)
      MatView.refresh(spark, mv, src, Seq("k"), "v")
    }
    val plain = s"$root/plain"
    MatView.refresh(spark, plain, src, Seq("k"), "v")
    intercept[IllegalArgumentException] {
      Snapshots.commit(spark, Seq(("y", 1L)).toDF("k", "v"), src)
      MatView.refresh(spark, plain, src, Seq("k"), "v", distinctCol = "v")
    }
  }

  test("rollup rewrite: a partial-key GROUP BY re-aggregates the view") {
    // r14: grouping on a SUBSET of the view's keys (or none — a global
    // aggregate) is answered by re-aggregating the one-row-per-fine-group
    // view rows: count = sum(n_rows), sum = sum(sum_v), avg = the exact
    // totals ratio (not a mean of means), min/max over per-group extrema.
    import graft.connector.MvRewriteRule
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv_rollup")
    val (src, mv) = (s"$root/src", s"$root/mv")
    Snapshots.commit(spark,
      Seq(("a", "x", 1.0), ("a", "y", 2.0), ("a", "y", 4.0), ("b", "x", 10.0))
        .toDF("k1", "k2", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k1", "k2"), "v", withMinMax = true)
    MatView.register(src, mv, Seq("k1", "k2"), "v")
    def bases(df: org.apache.spark.sql.DataFrame) =
      MvRewriteRule.graftScanBases(df.queryExecution.optimizedPlan).distinct
    def load = spark.read.format("graft").load(src)
    def sub = load.groupBy(col("k1"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"), avg(col("v")).as("m"),
        min(col("v")).as("lo"), max(col("v")).as("hi"))
    assert(bases(sub) === Seq(mv), "subset grouping must re-aggregate the view")
    assert(sub.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap ===
      Map("a" -> ((3L, 7.0, 7.0 / 3.0, 1.0, 4.0)),
          "b" -> ((1L, 10.0, 10.0, 10.0, 10.0))))
    // the empty subset — a GLOBAL aggregate — also rides the view
    val glob = load.agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    assert(bases(glob) === Seq(mv), "global aggregate must re-aggregate the view")
    assert(glob.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((4L, 17.0)))
    // a WHERE on a view key the output no longer groups on still commutes:
    // filter the fine-grained view rows, then re-aggregate
    val filtered = load.filter(col("k2") === "y").groupBy(col("k1"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    assert(bases(filtered) === Seq(mv), "keyed WHERE must ride the rollup")
    assert(filtered.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(2)))).toMap === Map("a" -> ((2L, 6.0))))
    // SQL's legal unprojected-grouping-key shape (`SELECT sum(v) ...
    // GROUP BY k1` — the key absent from the select list) must still
    // roll up: the view read projects the grouping key even though no
    // output asks for it
    load.createOrReplaceTempView("mv_rollup_src")
    val unprojected = spark.sql(
      "SELECT sum(v) AS s FROM mv_rollup_src GROUP BY k1")
    assert(bases(unprojected) === Seq(mv),
      "unprojected grouping key must still roll up")
    assert(unprojected.collect().map(_.getDouble(0)).sorted.toSeq === Seq(7.0, 10.0))
    // a value-column WHERE still falls back
    val valueWhere = load.filter(col("v") > 1.0).groupBy(col("k1"))
      .agg(count(lit(1)).as("n"))
    assert(bases(valueWhere) === Seq(src), "value WHERE must fall back")
    // grouping on a NON-view column never rewrites
    val alien = load.groupBy(col("v")).agg(count(lit(1)).as("n"))
    assert(bases(alien) === Seq(src))
    // staleness still falls back on the rollup path
    Snapshots.commit(spark, Seq(("c", "x", 5.0)).toDF("k1", "k2", "v"), src)
    assert(bases(sub) === Seq(src), "stale view must not roll up")
  }

  test("transparent rewrite: fresh view substitutes, stale or filtered falls back") {
    import graft.connector.MvRewriteRule
    val sess = spark
    import sess.implicits._
    val root = tmpDir("graft_mv_rw")
    val (src, mv) = (s"$root/src", s"$root/mv")
    Snapshots.commit(spark,
      Seq(("a", 1.0), ("a", 2.0), ("b", 10.0)).toDF("k", "v"), src)
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    MatView.register(src, mv, Seq("k"), "v")
    def agg = spark.read.format("graft").load(src).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"), avg(col("v")).as("m"))
    def bases(df: org.apache.spark.sql.DataFrame) =
      MvRewriteRule.graftScanBases(df.queryExecution.optimizedPlan).distinct
    def got(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    // fresh: the optimized plan reads ONLY the view — the source scan
    // (and the aggregate's shuffle) are gone — and the answer is exact,
    // including the derived avg = sum_v / n_rows
    assert(bases(agg) === Seq(mv), "rewrite must fire on the fresh view")
    assert(got(agg) === Map("a" -> (2L, 3.0, 1.5), "b" -> (1L, 10.0, 10.0)))
    // a WHERE changes group contents: shape break, source scan, right answer
    val filtered = spark.read.format("graft").load(src)
      .filter(col("v") > 1.0).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"), avg(col("v")).as("m"))
    assert(bases(filtered) === Seq(src))
    assert(got(filtered) === Map("a" -> (1L, 2.0, 2.0), "b" -> (1L, 10.0, 10.0)))
    // r13: a WHERE on a GROUPING KEY commutes with the view — the rewrite
    // fires and key-filters the one-row-per-group view rows instead
    val keyFiltered = spark.read.format("graft").load(src)
      .filter(col("k") === "a").groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"), avg(col("v")).as("m"))
    assert(bases(keyFiltered) === Seq(mv), "keyed WHERE must substitute")
    assert(got(keyFiltered) === Map("a" -> (2L, 3.0, 1.5)))
    // ...but a predicate mixing a key with a value column falls back
    val mixed = spark.read.format("graft").load(src)
      .filter(col("k") === "a" && col("v") > 1.0).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"), avg(col("v")).as("m"))
    assert(bases(mixed) === Seq(src), "key+value WHERE must fall back")
    assert(got(mixed) === Map("a" -> (1L, 2.0, 2.0)))
    // r14: HAVING — a predicate on the AGGREGATE OUTPUTS sits ABOVE the
    // Aggregate, so it always commutes with the view: the substituted
    // Project re-publishes the aggregate's exprIds and the Filter
    // re-binds to the view's stored columns untouched (mv6's shape)
    val having = agg.filter(col("s") >= 3.0 && col("n") >= 2)
    assert(bases(having) === Seq(mv), "HAVING on aggregate outputs must substitute")
    assert(got(having) === Map("a" -> (2L, 3.0, 1.5)))
    // ...but a HAVING above a value-column WHERE still falls back — the
    // WHERE below the aggregate is the shape break, not the HAVING
    val havingOverValueWhere = filtered.filter(col("s") > 1.0)
    assert(bases(havingOverValueWhere) === Seq(src),
      "value WHERE under a HAVING must still fall back")
    // a time-travel pin never rewrites (the view tracks the LATEST state)
    val pinned = spark.read.format("graft")
      .option("versionAsOf", Snapshots.versions(src).max.toString).load(src)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"), avg(col("v")).as("m"))
    assert(bases(pinned) === Seq(src))
    // STALE: an append the view has not consumed must fall back — the
    // rewrite is an optimization, never a freshness gamble
    Snapshots.commit(spark, Seq(("c", 7.0)).toDF("k", "v"), src)
    assert(bases(agg) === Seq(src), "stale view must not substitute")
    assert(got(agg)("c") === ((1L, 7.0, 7.0)))
    // refresh restores freshness: the rewrite fires again and sees c
    MatView.refresh(spark, mv, src, Seq("k"), "v")
    assert(bases(agg) === Seq(mv))
    assert(got(agg) === Map("a" -> (2L, 3.0, 1.5), "b" -> (1L, 10.0, 10.0),
      "c" -> (1L, 7.0, 7.0)))
    // min/max only substitutes against a min/max view: the plain view
    // lacks the state, so the query falls back; a registered min/max
    // twin serves it
    def mmAgg = spark.read.format("graft").load(src).groupBy(col("k"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    assert(bases(mmAgg) === Seq(src))
    val mvmm = s"$root/mvmm"
    MatView.refresh(spark, mvmm, src, Seq("k"), "v", withMinMax = true)
    MatView.register(src, mvmm, Seq("k"), "v", name = "mm")
    assert(bases(mmAgg) === Seq(mvmm))
    assert(mmAgg.collect().map(r =>
      r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap ===
      Map("a" -> (1.0, 2.0), "b" -> (10.0, 10.0), "c" -> (7.0, 7.0)))
    // non-matching shapes never rewrite: DISTINCT, a different key set,
    // count(column) (null-sensitive — the view only stores count(*))
    assert(bases(spark.read.format("graft").load(src)
      .groupBy(col("k")).agg(countDistinct(col("v")).as("d"))) === Seq(src))
    assert(bases(spark.read.format("graft").load(src)
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("n"))) === Seq(src))
    assert(bases(spark.read.format("graft").load(src)
      .groupBy(col("k")).agg(count(col("v")).as("n"))) === Seq(src))
    // session kill switch
    spark.conf.set(MvRewriteRule.ConfKey, "false")
    try assert(bases(agg) === Seq(src))
    finally spark.conf.unset(MvRewriteRule.ConfKey)
    assert(bases(agg) === Seq(mv))
    // a bogus registration refuses loudly at register time
    intercept[IllegalArgumentException] {
      MatView.register(src, s"$root/nope", Seq("k"), "v", name = "x")
    }
  }
}
