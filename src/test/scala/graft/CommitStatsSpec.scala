package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.ingest.{FileStats, Snapshots}

/** The one-pass write path: a batch's stats sidecar is built by the write
  * job itself, so a commit's data write is one Spark job, and the sidecar
  * says what the former re-read aggregates (kept below as the reference)
  * said about the same files.
  */
class CommitStatsSpec extends SparkSuite {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def dirsOf(base: String, prefix: String): Set[String] =
    Option(new java.io.File(base, "data").listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix)).map(_.getName).toSet

  // The re-read aggregates that built the `n` and `h` lines before the
  // write job did, kept as reference implementations, with two domain
  // fixes: timestamps are sketched as epoch micros (cast("long") gave
  // epoch seconds, which merged distinct micros), and dates go through
  // unix_date (cast("int") fails analysis under ANSI, which used to drop
  // every sketch and count of a batch with a DATE column).

  private def quote(n: String) = s"`${n.replace("`", "``")}`"

  private def refNdv(files: Seq[String]): Map[String, Map[String, Array[Byte]]] = {
    import org.apache.spark.sql.types._
    val df = spark.read.parquet(files: _*)
    val eligible = df.schema.fields.flatMap { f =>
      val c = col(quote(f.name))
      f.dataType match {
        case ByteType | ShortType | IntegerType => Some(f.name -> c.cast("int"))
        case LongType | StringType              => Some(f.name -> c)
        case DateType                           => Some(f.name -> unix_date(c))
        case TimestampType                      => Some(f.name -> unix_micros(c))
        case _                                  => None
      }
    }.toSeq
    val aggs = eligible.map { case (n, c) => hll_sketch_agg(c).as(n) }
    df.groupBy(input_file_name().as("__file")).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        new Path(r.getString(0)).getName -> eligible.indices.flatMap { i =>
          Option(r.get(i + 1)).map(b => eligible(i)._1 -> b.asInstanceOf[Array[Byte]])
        }.toMap
      }.toMap
  }

  private def refHist(files: Seq[String]): Map[String, Map[String, Map[Int, Long]]] = {
    import org.apache.spark.sql.types._
    val df = spark.read.parquet(files: _*)
    val eligible = df.schema.fields.flatMap { f =>
      val c = col(quote(f.name))
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => Some(f.name -> c.cast("long"))
        case DateType      => Some(f.name -> unix_date(c).cast("long"))
        case TimestampType => Some(f.name -> unix_micros(c))
        case _             => None
      }
    }.toSeq
    def bucket(v: org.apache.spark.sql.Column) =
      when(v.isNull || v === Long.MinValue, lit(null))
        .when(v === 0L, lit(0))
        .when(v > 0L, (floor(log2(v)) + lit(1)).cast("int"))
        .otherwise((-floor(log2(-v)) - lit(1)).cast("int"))
    val pairs = eligible.map { case (n, c) => struct(lit(n).as("c"), bucket(c).as("b")) }
    df.select(input_file_name().as("f"), explode(array(pairs: _*)).as("p"))
      .filter(col("p.b").isNotNull)
      .groupBy(col("f"), col("p.c").as("c"), col("p.b").as("b")).count()
      .collect()
      .groupBy(r => new Path(r.getString(0)).getName).map { case (file, rs) =>
        file -> rs.groupBy(_.getString(1)).map { case (c, brs) =>
          c -> brs.map(r => r.getInt(2) -> r.getLong(3)).toMap
        }
      }
  }

  private def estimate(sketch: Array[Byte]): Double =
    org.apache.datasketches.hll.HllSketch.heapify(sketch).getEstimate

  test("a fresh-table append and an upsert's data write each run one Spark job") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_onepass_jobs")
    val data = (1L to 200L).map(i => (i, i % 7, s"u$i")).toDF("k", "g", "s")
    val (_, appendJobs) = jobsOf(Snapshots.commit(spark, data, base))
    assert(appendJobs === 1)
    // The upsert also derives its source's key envelope and writes the
    // equality-delete keys; the same two steps, run alone on the same
    // frame, account for every job but the data write.
    val src = (150L to 250L).map(i => (i, i % 5, s"v$i")).toDF("k", "g", "s")
    val (_, upsertJobs) = jobsOf(Snapshots.upsertByKeys(spark, base, src, Seq("k")))
    val keys = src.select(col("k")).filter(col("k").isNotNull).distinct()
    val (_, keyJobs) = jobsOf {
      FileStats.keyFilters(keys)
      keys.write.parquet(s"${tmpDir("graft_onepass_keys")}/eq")
    }
    assert(upsertJobs - keyJobs === 1, s"upsert ran $upsertJobs jobs, its key steps $keyJobs")
    assert(Snapshots.read(spark, base).count() === 250L)
  }

  test("a multi-file batch's sidecar equals the re-read aggregates'") {
    val base = tmpDir("graft_onepass_sidecar")
    // 3 hash partitions, partition 0 left empty: its task still writes a
    // (zero-row) file, which must get no `n`/`h` lines
    val data = spark.range(600).select(
      (col("id") % 13).as("key"),
      when(col("id") % 7 === 0, lit(null)).otherwise((col("id") * 37 % 101 - 50).cast("int")).as("i"),
      when(col("id") === 5, lit(Long.MinValue)).when(col("id") === 6, lit(0L))
        .otherwise(col("id") * 1000003L - 300000000L).as("l"),
      when(col("id") % 5 === 0, lit(null)).when(col("id") === 7, lit(""))
        .otherwise(concat(lit("k"), (col("id") % 50).cast("string"))).as("s"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 40).cast("int")).as("d"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1234567L).as("t"),
      (col("id") / 3.0).as("x"),
      lit(null).cast("long").as("n"))
      .filter(pmod(hash(col("key")), lit(3)) =!= 0)
      .repartition(3, col("key"))
    Snapshots.commit(spark, data, base)
    val files = Snapshots.liveFiles(base, Snapshots.versions(base).max)
    assert(files.size === 3)
    val sidecar = FileStats.readSidecar(conf, new Path(files.head).getParent).get
    assert(sidecar.values.map(_.rows).toSeq.sorted.head === 0L)
    assert(sidecar.values.map(_.rows).sum === data.count())

    val ndv = refNdv(files)
    def nLines(m: Map[String, Map[String, Array[Byte]]]) =
      m.toSeq.flatMap { case (f, cs) => cs.keys.map(f -> _) }.toSet
    assert(nLines(sidecar.map { case (f, st) => f -> st.ndv }) === nLines(ndv))
    assert(nLines(ndv).map(_._2) === Set("key", "i", "l", "s", "d", "t", "n"))
    for ((f, cs) <- ndv; (c, ref) <- cs) {
      val got = sidecar(f).ndv(c)
      assert(estimate(got) === estimate(ref), s"$f.$c")
      assert(got.sameElements(ref), s"$f.$c sketch bytes")
    }
    val hist = refHist(files)
    assert(sidecar.map { case (f, st) => f -> st.hist }.filter(_._2.nonEmpty) === hist)
    assert(hist.values.flatMap(_.keys).toSet === Set("key", "i", "l", "d", "t"))
  }

  test("timestamp NDV counts distinct micros, not seconds") {
    val base = tmpDir("graft_onepass_ts")
    // 1,000 distinct instants inside one second
    Snapshots.commit(spark, spark.range(1000).select(
      timestamp_micros(lit(1700000000000000L) + col("id") * 997L).as("t")), base)
    val est = Snapshots.scanNdv(base)("t")
    assert(math.abs(est - 1000L) <= 50L, s"ndv estimate $est for 1000 distinct micros")
  }

  test("a CHECK violation deletes the batch and publishes nothing") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_onepass_check")
    Snapshots.commit(spark, Seq((1L, 10L)).toDF("k", "v"), base)
    graft.connector.TableProps.write(base,
      Map(graft.connector.TableProps.CheckPrefix + "v_positive" -> "v > 0"))
    val (v0, batches) = (Snapshots.versions(base).max, dirsOf(base, "b_"))
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(spark, Seq((2L, 20L), (3L, -1L)).toDF("k", "v"), base)
    }
    assert(e.getMessage.contains("v_positive"))
    assert(Snapshots.versions(base).max === v0)
    assert(dirsOf(base, "b_") === batches)
  }

  test("a no-op DV delete leaves no vector dir behind") {
    val sess = spark
    import sess.implicits._
    val base = tmpDir("graft_onepass_dv")
    Snapshots.commit(spark, (1L to 5L).toDF("id").repartition(1), base)
    val v1 = Snapshots.commit(spark, (6L to 10L).toDF("id").repartition(1), base)
    assert(Snapshots.deleteWhereDV(spark, base, col("id") === 99L) === v1)
    assert(dirsOf(base, "dv_").isEmpty)
    val v2 = Snapshots.deleteWhereDV(spark, base, col("id") === 7L)
    assert(v2 === v1 + 1)
    assert(dirsOf(base, "dv_").size === 1)
    assert(Snapshots.read(spark, base).count() === 9L)
  }
}
