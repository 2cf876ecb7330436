package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.TextSources
import graft.tables.Tables
import graft.query.Fixture

/** Interchange-format roundtrips as ORACLE-CERTIFIED registry queries.
  *
  * The reference ingests exactly one wire format (Avro OCF —
  * /root/reference/streamAdapter.go:15-42), certified here by
  * `avro1_ocf_roundtrip`. A corpus pipeline additionally receives CSV
  * exports, JSON-lines crawler shards, and ORC lake files; the readers and
  * writers live in [[graft.sources.TextSources]] (spec-green since round 5)
  * but until round 13 no registry query pinned their VALUE fidelity against
  * the DuckDB oracle. Each query below stages a format copy of a parquet
  * table once per (sf, layout) — an entry of the fixture registry
  * ([[Formats.fixtures]]), like the Avro/catalog fixtures — reads it back
  * through the schema'd source, and aggregates; the oracle computes the
  * identical aggregate over the original parquet, so any value lost or
  * mangled in the encode→decode trip (quoting, escaping, numeric text
  * rendering, timestamp binary encoding) breaks the hash.
  *
  * Scale shape: the staging write is one partitioned pass (bounded files via
  * `maxRecordsPerFile`, BlockWriter's stance); the read-back is a plain
  * distributed scan — text formats split by line so parallelism survives,
  * ORC splits by stripe. Nothing here collects rows to the driver.
  *
  * Format stances (why each aggregate proves what it claims):
  *  - CSV: `props` holds JSON text (quotes + commas + spaces), so the
  *    read-back only matches if quoting and quote-escaping survive the
  *    trip; `value` doubles render via shortest-round-trip `toString` and
  *    re-parse bit-exact. Timestamps are deliberately EXCLUDED: CSV has no
  *    timestamp type, only a lossy formatted string — a pipeline that needs
  *    time fidelity in CSV should ship epoch integers (`us` below does).
  *  - JSONL: `text` carries the full escaping surface of document bodies;
  *    schema'd read (no inference — TextSources' stance) keeps the scan to
  *    one pass.
  *  - ORC: the one format of the three with a real timestamp type, so `ts`
  *    rides the trip and min/max epoch-micros prove microsecond fidelity
  *    end-to-end.
  */
object Formats {

  private val csvSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("us", LongType), StructField("props", StringType)))

  private val jsonlSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val orcSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private val csvDir = Fixture("graft_fmtcsv", "events") { (s, d, tmp) =>
    TextSources.writeCsv(
      Tables.events(s, d).select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("ts_us").as("us"), col("props")),
      tmp)
  }

  private val jsonlDir = Fixture("graft_fmtjsonl", "documents") { (s, d, tmp) =>
    TextSources.writeJsonLines(
      Tables.table(s, d, "documents").select(
        col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")),
      tmp)
  }

  private val orcDir = Fixture("graft_fmtorc", "events") { (s, d, tmp) =>
    TextSources.writeOrc(
      Tables.events(s, d).select(
        col("event_id"), col("ts_t").as("ts"), col("user_id"),
        col("event_type"), col("value")),
      tmp)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fmt1_csv_roundtrip" -> { (s, d) =>
      TextSources.readCsv(s, csvDir(s, d), csvSchema).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"),
        round(sum(col("value")), 2).as("sum_v"),
        min(col("us")).as("min_us"),
        max(col("us")).as("max_us"),
        sum(length(col("props"))).as("props_chars"))
    },
    "fmt2_jsonl_roundtrip" -> { (s, d) =>
      TextSources.readJsonLines(s, jsonlDir(s, d), jsonlSchema).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text"))).as("text_chars"))
    },
    "fmt3_orc_roundtrip" -> { (s, d) =>
      TextSources.readOrc(s, orcDir(s, d), orcSchema).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        min(unix_micros(col("ts"))).as("min_us"),
        max(unix_micros(col("ts"))).as("max_us"),
        round(sum(col("value")), 2).as("sum_v"))
    })

  def fixtures: Seq[Fixture] = Seq(csvDir, jsonlDir, orcDir)

  val oracleSql: Map[String, String] = Map(
    "fmt1_csv_roundtrip" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT event_type) AS n_types,
        |  round(sum(value), 2) AS sum_v,
        |  min(epoch_us(ts)) AS min_us,
        |  max(epoch_us(ts)) AS max_us,
        |  CAST(sum(length(props)) AS BIGINT) AS props_chars
        |FROM events""".stripMargin,
    "fmt2_jsonl_roundtrip" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT source) AS n_sources,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS text_chars
        |FROM documents""".stripMargin,
    "fmt3_orc_roundtrip" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  min(epoch_us(ts)) AS min_us,
        |  max(epoch_us(ts)) AS max_us,
        |  round(sum(value), 2) AS sum_v
        |FROM events""".stripMargin)
}
