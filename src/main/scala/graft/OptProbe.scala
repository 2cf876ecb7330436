package graft

import org.apache.spark.sql.functions._

/** Diagnostic main for the optimization rounds: time labeled sub-stages of
  * the expensive queries so changes target the real cost, not a guess
  * (optimization guide §1, "measure first"). Not part of the driver
  * contract; numbers print as `OPTPROBE <label> <sec>`.
  *
  * Usage: runMain graft.OptProbe <sfDir> [probe,probe,...]
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val only: Set[String] = if (args.length > 1) args(1).split(",").toSet else Set.empty
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def time[T](label: String)(f: => T): Unit =
      if (only.isEmpty || only.exists(label.startsWith)) {
        // min-of-2: first sample pays codegen/C2 for this plan shape
        val ts = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        println(f"OPTPROBE $label%-28s ${ts.min}%8.3f  (first ${ts.head}%.3f)")
      }

    SparkEntry.prestage(spark, sfDir)

    // ---- media decode ----
    val imgPath = graft.ops.Multimodal.imgDupDir(spark, sfDir) + "/image"
    time("m7_read_payloads") {
      spark.read.parquet(imgPath).select("payload").as[Array[Byte]].map(_.length.toLong).reduce(_ + _)
    }
    time("m7_decode_ahash") {
      spark.read.parquet(imgPath).select(col("img_id"), col("payload"))
        .as[(Long, Array[Byte])]
        .map { case (id, p) =>
          (id, graft.ops.Multimodal.aHash64(graft.ops.Multimodal.decodeImage(p))) }
        .write.format("noop").mode("overwrite").save()
    }
    time("m7_full") {
      SparkEntry.queries("m7_image_neardup")(spark, sfDir).count()
    }

    // ---- simhash ----
    time("d4_sig_only") {
      graft.tables.Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, graft.ops.Dedup.simhash64(t)) }
        .write.format("noop").mode("overwrite").save()
    }
    time("d4_full") {
      SparkEntry.queries("d4_simhash")(spark, sfDir).count()
    }

    // ---- minhash LSH ----
    time("d3_sig_only") {
      graft.tables.Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => (id, graft.ops.Dedup.minhashSig(t)(0)) }
        .write.format("noop").mode("overwrite").save()
    }
    time("d3_full") {
      SparkEntry.queries("d3_minhash_lsh")(spark, sfDir).count()
    }

    // ---- shingle kernel (d2/d10) ----
    time("d2_shingles_only") {
      graft.ops.Dedup.docShingles(spark, sfDir)
        .select(size(col("sh")).cast("long").as("n")).agg(sum("n")).collect()
    }
    time("d2_full") {
      SparkEntry.queries("d2_ngram_jaccard")(spark, sfDir).count()
    }

    // ---- connected components ----
    time("cc_d6_full") {
      SparkEntry.queries("d6_neardup_clusters")(spark, sfDir).count()
    }
    time("cc_pairs_only") {
      graft.ops.Dedup.minhashLshPairs(spark, sfDir, 0.8).count()
    }

    // ---- LSH phases ----
    time("lsh_p1_bucketed_hot") {
      import graft.ops.Dedup
      val rowsPerBand = 32 / 16
      val bucketed = graft.tables.Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val sig = Dedup.minhashSig(text)
          if (sig(0) == Long.MaxValue) Iterator.empty
          else (0 until 16).iterator.map { bnd =>
            var mix = 0L
            var r = bnd * rowsPerBand
            while (r < (bnd + 1) * rowsPerBand) { mix = mix * 0x100000001B3L ^ sig(r); r += 1 }
            (id, bnd, mix)
          }
        }.toDF("doc_id", "band", "sig")
      val hot = bucketed.groupBy(col("band"), col("sig"))
        .agg(count(lit(1)).as("bw")).filter(col("bw") > 256)
      hot.count()
    }
    time("lsh_p2_selfjoin") {
      import graft.ops.Dedup
      val rowsPerBand = 32 / 16
      val bucketed = graft.tables.Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val sig = Dedup.minhashSig(text)
          if (sig(0) == Long.MaxValue) Iterator.empty
          else (0 until 16).iterator.map { bnd =>
            var mix = 0L
            var r = bnd * rowsPerBand
            while (r < (bnd + 1) * rowsPerBand) { mix = mix * 0x100000001B3L ^ sig(r); r += 1 }
            (id, bnd, mix)
          }
        }.toDF("doc_id", "band", "sig").localCheckpoint(true)
      bucketed.as("a").join(bucketed.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b").count()
    }
    // ---- pagerank ----
    time("g0_directed_raw") {
      graft.ops.Graph.directedTradeEdges(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    time("g1_edges_setup") {
      graft.ops.Graph.tradeEdges(spark, sfDir).localCheckpoint(true).count()
    }
    time("g1_full") {
      SparkEntry.queries("g1_pagerank")(spark, sfDir).count()
    }
    time("g2_full") {
      SparkEntry.queries("g2_pagerank_directed")(spark, sfDir).count()
    }
    time("g4_full") {
      SparkEntry.queries("g4_bfs_hops")(spark, sfDir).count()
    }
    time("g5_full") {
      SparkEntry.queries("g5_label_propagation")(spark, sfDir).count()
    }

    // ---- m5 scene cuts: decode-all-frames vs window ----
    time("m5_full") {
      SparkEntry.queries("m5_scene_cuts")(spark, sfDir).count()
    }
    time("m10_frames_only") {
      val p = graft.ops.Multimodal.vidDupDir(spark, sfDir) + "/video"
      spark.read.parquet(p).select(col("img_id"), col("payload"))
        .as[(Long, Array[Byte])]
        .flatMap { case (id, pl) =>
          graft.ops.Multimodal.demux(pl).map(f =>
            (id, graft.ops.Multimodal.aHash64(graft.ops.Multimodal.decodeImage(f)))) }
        .toDF("vid", "fh").distinct().localCheckpoint(true).count()
    }
    time("m9_imgedges_only") {
      val docs = graft.tables.Tables.table(spark, sfDir, "documents").select(col("doc_id"))
      val sigs = spark.read.parquet(graft.ops.Multimodal.imgDupDir(spark, sfDir) + "/image")
        .select(col("img_id"), col("payload")).as[(Long, Array[Byte])]
        .map { case (id, p) =>
          (id, graft.ops.Multimodal.aHash64(graft.ops.Multimodal.decodeImage(p))) }
        .toDF("doc_id", "sh64").join(docs, "doc_id")
      graft.ops.Dedup.hammingBandPairs(sigs, 3).count()
    }
    time("m9_cc_only") {
      val pairs = graft.ops.Dedup.minhashLshPairs(spark, sfDir, 0.8)
        .select(col("doc_a"), col("doc_b"))
      graft.ops.Dedup.labelComponents(spark, pairs,
        graft.tables.Tables.table(spark, sfDir, "documents").select(col("doc_id"))).count()
    }
    if (only.isEmpty || only.exists("cc_rounds".startsWith)) {
      // replicate the labelComponents loop with per-round timing
      val pairs = graft.ops.Dedup.minhashLshPairs(spark, sfDir, 0.8)
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      println(s"OPTPROBE cc_rounds_pairs n=${pairs.count()}")
      val edges = pairs
        .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .localCheckpoint(true)
      var labels = edges.select(col("doc_a").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("cluster"))
        .localCheckpoint(true)
      println(s"OPTPROBE cc_rounds_nodes n=${labels.count()}")
      var changed = 1L
      var round = 0
      while (changed > 0) {
        round += 1
        val t0 = System.nanoTime()
        val neighborMin = edges
          .join(labels.select(col("doc_id").as("doc_b"), col("cluster").as("nb_cluster")), "doc_b")
          .groupBy(col("doc_a").as("doc_id"))
          .agg(min(col("nb_cluster")).as("nb_min"))
        val propagated = labels.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("cluster").as("old"),
            least(col("cluster"), coalesce(col("nb_min"), col("cluster"))).as("cluster"))
        val jumped = propagated.as("x")
          .join(labels.select(col("doc_id").as("p_id"), col("cluster").as("p_cluster")),
            col("x.cluster") === col("p_id"), "left")
          .select(col("x.doc_id").as("doc_id"), col("x.old").as("old"),
            least(col("x.cluster"), coalesce(col("p_cluster"), col("x.cluster"))).as("cluster"))
          .localCheckpoint(true)
        val t1 = System.nanoTime()
        changed = jumped.filter(col("cluster") =!= col("old")).count()
        labels = jumped.select(col("doc_id"), col("cluster"))
        println(f"OPTPROBE cc_round_$round%d  ckpt=${(t1 - t0) / 1e9}%.3f total=${(System.nanoTime() - t0) / 1e9}%.3f changed=$changed%d")
      }
    }
    time("m9_full") {
      SparkEntry.queries("m9_crossmodal_clusters")(spark, sfDir).count()
    }
    time("m10_full") {
      SparkEntry.queries("m10_video_neardup")(spark, sfDir).count()
    }
    time("v9b_full") {
      SparkEntry.queries("v9b_live_gate")(spark, sfDir).count()
    }
    time("rc1_full") {
      SparkEntry.queries("rc1_recursive_cte")(spark, sfDir).count()
    }

    // ---- d8b legs (r17) ----
    time("d8b_exact_only") {
      graft.ops.VecOps.cosinePairs(spark,
        graft.tables.Tables.table(spark, sfDir, "embeddings"),
        "vec_id", "embedding", 0.45).count()
    }
    time("d8b_cell_only") {
      graft.ops.VecOps.cellCosinePairs(spark,
        graft.tables.Tables.table(spark, sfDir, "embeddings"),
        "vec_id", "embedding", 0.45).count()
    }
    time("d8b_full") {
      SparkEntry.queries("d8b_semdedup_gate")(spark, sfDir).count()
    }
    time("d11_full") {
      SparkEntry.queries("d11_quality_keep")(spark, sfDir).count()
    }
    time("d20_full") {
      SparkEntry.queries("d20_soft_dedup")(spark, sfDir).count()
    }
    time("split2_full") {
      SparkEntry.queries("split2_cluster_split")(spark, sfDir).count()
    }

    // ---- g1 steady-state iteration plan (r17 evidence: the cached edge
    // list's hash partitioning is reused every iteration — only the
    // node-sized rank side exchanges). Replicates pageRank's sink-free
    // loop body for ONE iteration atop a checkpointed rank vector and
    // dumps the formatted plan.
    if (only.isEmpty || only.exists("g1_iterplan".startsWith)) {
      import graft.ops.Graph
      val e = Graph.tradeEdges(spark, sfDir).localCheckpoint(true)
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val withDeg = e.join(deg, "src").select(col("src"), col("dst"), col("deg"))
        .repartition(8, col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = withDeg.select(col("src").as("id")).distinct().localCheckpoint(true)
      val n = nodes.count()
      val ranksCk = nodes.withColumn("rank", lit(1.0 / n)).localCheckpoint(true)
      val next = withDeg
        .join(ranksCk.select(col("id"), col("rank")), col("src") === col("id"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .repartition(8, col("dst"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_rank"))
        .select(col("dst").as("id"),
          (lit((1 - Graph.Damping) / n) + lit(Graph.Damping) * col("in_rank")).as("rank"))
      new java.io.File("plans/r17").mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("plans/r17/g1_iteration_plan.txt"),
        next.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      println("OPTPROBE g1_iterplan written plans/r17/g1_iteration_plan.txt")
      withDeg.unpersist(false)
    }
    spark.stop()
  }
}
