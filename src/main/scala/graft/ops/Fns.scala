package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.tables.Tables

/** Scalar-function catalog: string, date, math, array, JSON, hash,
  * conditional. Absent from the reference (SURVEY.md §2.2 — its only scalar
  * code is the base32/sha1 filename codec, /root/reference/block.go:60-115);
  * all built on `org.apache.spark.sql.functions._` so every expression stays
  * inside whole-stage codegen — no UDFs anywhere on this path.
  *
  * Scale note: these are embarrassingly parallel map-side transforms; the
  * only planning concern is that they don't block pushdown of neighbouring
  * predicates (they don't — Catalyst reorders deterministic projections).
  */
object Fns {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f1_string_fns" -> { (s, d) =>
      Tables.table(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_type")).as("type_len"),
        substring(col("p_brand"), 1, 5).as("brand_pfx"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        trim(col("p_name")).as("name_trim"),
        replace(col("p_type"), lit(" "), lit("_")).as("type_snake"),
        reverse(col("p_name")).as("name_rev"),
        lpad(col("p_partkey").cast("string"), 12, "0").as("key_pad"),
        split_part(col("p_type"), lit(" "), lit(1)).as("type_first"))
    },
    "f2_date_fns" -> { (s, d) =>
      Tables.table(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        quarter(col("o_orderdate")).as("qtr"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        date_add(col("o_orderdate"), 90).as("due_date"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate")).as("days_to_eoy"),
        last_day(col("o_orderdate")).as("month_end"))
    },
    "f3_math_fns" -> { (s, d) =>
      Tables.table(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(abs(col("l_extendedprice") - col("l_quantity") * lit(1000)), 2).as("abs_diff"),
        ceil(col("l_extendedprice")).cast(LongType).as("price_ceil"),
        floor(col("l_extendedprice")).cast(LongType).as("price_floor"),
        round(sqrt(col("l_quantity")), 4).as("qty_sqrt"),
        round(log(col("l_extendedprice")), 4).as("price_ln"),
        round(pow(col("l_discount") + lit(1), 2), 4).as("disc_sq"),
        pmod(col("l_orderkey"), lit(7)).as("key_mod7"),
        signum(col("l_quantity") - lit(25)).cast(LongType).as("qty_sign"))
    },
    "f4_array_fns" -> { (s, d) =>
      // Words of each document as an array column — the array surface a
      // token pipeline needs (split/size/contains/distinct/sort/slice).
      Tables.table(s, d, "documents")
        .withColumn("words", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("words")).as("n_words"),
          size(array_distinct(col("words"))).as("n_uniq"),
          array_contains(col("words"), "spark").cast("int").as("has_spark"),
          element_at(col("words"), 1).as("first_word"),
          element_at(col("words"), -1).as("last_word"),
          concat_ws(" ", slice(sort_array(array_distinct(col("words"))), 1, 3)).as("top3_sorted"))
    },
    "f5_json_fns" -> { (s, d) =>
      // events.props is a JSON string — extract + type it (the dynamic-field
      // path a log pipeline needs).
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("prop_k"),
        (get_json_object(col("props"), "$.k").cast(LongType) % 10).as("prop_k_mod"))
    },
    "f6_hash_fns" -> { (s, d) =>
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        md5(col("text")).as("text_md5"),
        sha2(col("text"), 256).as("text_sha256"),
        (length(col("text")) % 64).as("len_bucket"))
    },
    "f8_timestamp_fns" -> { (s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        hour(col("ts_t")).as("hr"),
        minute(col("ts_t")).as("mins"),
        dayofweek(col("ts_t")).as("dow"),
        unix_timestamp(col("ts_t")).as("epoch_s"),
        date_format(col("ts_t"), "yyyy-MM-dd HH").as("hour_key"),
        (col("ts_us") % 86400000000L).as("us_into_day"))
    },
    "f9_string_distance" -> { (s, d) =>
      // Edit distance between doc source labels and a probe string — the
      // fuzzy-matching primitive of entity resolution.
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        levenshtein(col("source"), lit("src12")).as("lev_to_src12"),
        levenshtein(col("lang"), col("source")).as("lev_lang_src"))
    },
    "f10_regexp_fns" -> { (s, d) =>
      Tables.table(s, d, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_type"), "([A-Z]+)", 1).as("first_caps"),
        col("p_type").rlike("STEEL|BRASS").cast("int").as("is_metal"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
        regexp_count(col("p_name"), lit("[a-z]+")).as("n_lower_runs"))
    },
    "q6_having" -> { (s, d) =>
      // Aggregate + HAVING shape: segments whose average balance clears a
      // floor (post-aggregation filter — Catalyst runs it after the final
      // agg, never against raw rows).
      Tables.table(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(round(avg(col("c_acctbal")), 2).as("avg_bal"), count(lit(1)).as("n"))
        .filter(col("avg_bal") > 4400 && col("n") > 10)
    },
    "f7_conditional_fns" -> { (s, d) =>
      Tables.table(s, d, "orders").select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("price_band"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status_or_open"),
        least(length(col("o_orderpriority")), lit(8)).as("prio_capped"),
        greatest(round(col("o_totalprice") * 0.1, 3), lit(50.0)).as("fee"))
    },
    "f11_map_fns" -> { (s, d) =>
      // Map-typed columns: build a map per row, then extract/inspect — the
      // output stays scalar so the oracle (which has no Spark map type)
      // computes the same values directly.
      val m = map_from_arrays(
        array(lit("qty"), lit("price")),
        array(col("l_quantity"), col("l_extendedprice")))
      Tables.table(s, d, "lineitem")
        .filter(col("l_linenumber") === 1)
        .select(
          col("l_orderkey"),
          element_at(m, "qty").as("m_qty"),
          element_at(m, "price").as("m_price"),
          size(map_keys(m)).as("n_keys"),
          map_contains_key(m, "qty").cast("int").as("has_qty"))
    },
    "f18_url_fns" -> { (s, d) =>
      // URL parsing/decoding for web-corpus provenance columns: build a
      // deterministic URL from row fields, then extract components with
      // parse_url and decode percent-escapes. Map-side codegen'd; the
      // oracle reconstructs the expected components with plain string ops,
      // so what's verified is Spark's parser against ground truth.
      val url = concat(lit("https://"), col("source"), lit(".example.com/docs/"),
        col("doc_id"), lit("?lang="), col("lang"))
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        parse_url(url, lit("HOST")).as("host"),
        parse_url(url, lit("PATH")).as("path"),
        parse_url(url, lit("QUERY"), lit("lang")).as("qlang"),
        url_decode(concat(col("lang"), lit("%20"), col("source"))).as("decoded"))
    },
    "f19_csv_fns" -> { (s, d) =>
      // CSV line round-trip: to_csv serializes a struct, from_csv parses it
      // back under an explicit DDL schema (no inference — at 100 TB schema
      // inference is a full extra scan). The oracle checks both the
      // serialized line and the parsed-back scalars against the originals.
      val sch = org.apache.spark.sql.types.StructType.fromDDL(
        "d BIGINT, lg STRING, n BIGINT")
      Tables.table(s, d, "documents")
        .withColumn("csv_line",
          to_csv(struct(col("doc_id").as("d"), col("lang").as("lg"), col("n_chars").as("n"))))
        .select(col("doc_id"), col("csv_line"),
          from_csv(col("csv_line"), sch, Map.empty[String, String]).as("p"))
        .select(col("doc_id"), col("csv_line"),
          col("p.d").as("p_id"), col("p.lg").as("p_lang"), col("p.n").as("p_chars"))
    },
    "f17_hof_fns" -> { (s, d) =>
      // Higher-order functions with lambdas (exists / forall / aggregate):
      // the array-programming surface a schema-light pipeline leans on.
      // Still pure map-side projections; lambda bodies evaluate per element
      // inside the row pipeline.
      val words = split(col("text"), " ")
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        exists(words, w => length(w) > 8).as("has_long_word"),
        forall(words, w => length(w) < 30).as("all_words_short"),
        aggregate(words, lit(0L), (acc, w) => acc + length(w).cast("long"))
          .as("total_word_chars"))
    },
    "u3_udtf_ngrams" -> { (s, d) =>
      // Native Catalyst Generator (graft.functions.NGrams) through the SQL
      // registry + LATERAL VIEW — the table-function tier of the extension
      // surface (fnv64 is the scalar tier, u1 the aggregate tier). One
      // JVM loop per document, no per-element interpreted lambdas.
      Tables.table(s, d, "documents").createOrReplaceTempView("documents_u3")
      s.sql(
        """SELECT doc_id, g.pos, g.gram
          |FROM documents_u3
          |LATERAL VIEW ngrams(text, 2) g AS pos, gram""".stripMargin)
    },
    "f20_variant" -> { (s, d) =>
      // Spark 4 VariantType: parse once, extract typed paths lazily — the
      // semi-structured column format that replaces repeated string-level
      // get_json_object scans (f5) with a binary-encoded tree. A missing
      // path yields NULL, not an error (same dirty-data stance as f15).
      Tables.events(s, d).select(
        col("event_id"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("vk"),
        expr("variant_get(parse_json(props), '$.k', 'string')").as("vk_str"),
        expr("variant_get(parse_json(props), '$.missing', 'bigint')").as("v_missing"))
    },
    "f22_listagg" -> { (s, d) =>
      // Ordered string aggregation (SQL LISTAGG / string_agg): the
      // report-building surface every BI layer leans on. Per priority,
      // the 5 smallest order keys as one comma list — the row_number
      // pre-filter bounds what collect_list buffers (and the TopKRewrite
      // rule plans it as a bounded heap), so the agg state is k-sized,
      // never group-sized; the list sorts LEXICOGRAPHICALLY on the
      // string form on both engines so ordering is representation-exact.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
      Tables.table(s, d, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("o_orderpriority"))
        .agg(concat_ws(",",
            sort_array(collect_list(col("o_orderkey").cast("string"))))
            .as("key_list"),
          count(lit(1)).as("n"))
    },
    "f21_crypto_fns" -> { (s, d) =>
      // Cryptographic/hashing function family: content digests (sha2 —
      // DuckDB-checkable) plus an AES-GCM encrypt/decrypt round trip.
      // GCM picks a random IV per call so the ciphertext itself is
      // nondeterministic — the ROUND-TRIP boolean is the deterministic,
      // oracle-predictable surface (same gate idea as a3b). All map-side.
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        substring(sha2(col("text"), 256), 1, 16).as("sha_prefix"),
        (expr("cast(aes_decrypt(aes_encrypt(text, '0123456789abcdef'), " +
          "'0123456789abcdef') as string)") <=> col("text")).as("aes_roundtrip_ok"))
    },
    "f16_decimal_math" -> { (s, d) =>
      // Exact decimal money math: sums over DECIMAL(12,2) accumulate
      // exactly (no float summation-order drift), so no round() crutch is
      // needed on either side — the correctness story double columns can't
      // give. Decimal aggregation stays a partial+final hash agg; the
      // 128-bit accumulator is the only cost. The RESULT surface is the
      // decimal rendered as a canonical string: the values are exact and
      // identical in both engines, but decimal OBJECTS hash differently
      // across Arrow/pandas paths, so the compare happens on the lossless
      // string form instead.
      Tables.table(s, d, "orders")
        .select(col("o_orderstatus"),
          col("o_totalprice").cast("decimal(12,2)").as("price_dec"))
        .groupBy(col("o_orderstatus"))
        .agg(
          sum(col("price_dec")).cast("decimal(22,2)").cast("string").as("total_exact"),
          max(col("price_dec")).cast("decimal(12,2)").cast("string").as("max_exact"),
          count(lit(1)).as("n"))
    },
    "f15_try_fns" -> { (s, d) =>
      // Error-tolerant casts: TRY_CAST yields NULL instead of failing the
      // job — the ingestion stance for dirty columns (a malformed value
      // must not kill a 100 TB scan; both engines agree NULL-on-failure).
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        expr("TRY_CAST(source AS INT)").as("src_as_int"),         // 'srcN' → null
        expr("TRY_CAST(substr(source, 4) AS INT)").as("src_num"), // 'N' → int
        expr("TRY_CAST(lang AS DATE)").as("lang_as_date"),        // 'en' → null
        expr("TRY_CAST(n_chars AS INT)").as("chars_int"))         // in-range long → int
    },
    "f14_interval_arith" -> { (s, d) =>
      // Interval arithmetic + ISO calendar fields. weekday()+1 == ISO
      // day-of-week (1=Mon..7=Sun), matching DuckDB's isodow; add_months
      // clamps to month end in both engines.
      Tables.table(s, d, "orders").select(
        col("o_orderkey"),
        add_months(col("o_orderdate"), 2).cast("date").as("plus_2m"),
        (col("o_orderdate") + expr("INTERVAL 10 DAYS")).cast("date").as("plus_10d"),
        date_sub(col("o_orderdate").cast("date"), 7).as("week_ago"),
        (weekday(col("o_orderdate")) + 1).as("iso_dow"),
        weekofyear(col("o_orderdate")).as("iso_week"))
    },
    "f12_struct_fns" -> { (s, d) =>
      // Struct build / field access / struct ordering — scalar outputs so
      // the oracle computes the same values directly (f11-style).
      val st = struct(col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
      Tables.table(s, d, "customer").select(
        col("c_custkey"),
        st.getField("bal").as("s_bal"),
        upper(st.getField("seg")).as("s_seg"),
        (struct(col("c_nationkey"), col("c_custkey")) <
          struct(lit(12), lit(0L))).cast("int").as("s_lt"))
    },
    "f13_bitwise" -> { (s, d) =>
      Tables.table(s, d, "lineitem")
        .filter(col("l_linenumber") === 1)
        .select(
          col("l_orderkey"),
          col("l_orderkey").bitwiseAND(lit(255L)).as("low_byte"),
          shiftleft(col("l_orderkey"), 2).as("shl2"),
          shiftright(col("l_orderkey"), 1).as("shr1"),
          col("l_orderkey").bitwiseXOR(lit(42L)).as("xor42"),
          bit_count(col("l_orderkey")).as("popcount"))
    }
  )

  val oracleSql: Map[String, String] = Map(
    "f1_string_fns" ->
      """SELECT p_partkey,
        |  upper(p_name) AS name_upper,
        |  length(p_type) AS type_len,
        |  substr(p_brand, 1, 5) AS brand_pfx,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  trim(p_name) AS name_trim,
        |  replace(p_type, ' ', '_') AS type_snake,
        |  reverse(p_name) AS name_rev,
        |  lpad(CAST(p_partkey AS VARCHAR), 12, '0') AS key_pad,
        |  split_part(p_type, ' ', 1) AS type_first
        |FROM part""".stripMargin,
    "f2_date_fns" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr,
        |  month(o_orderdate) AS mo,
        |  dayofmonth(o_orderdate) AS dom,
        |  quarter(o_orderdate) AS qtr,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate + INTERVAL 90 DAY AS DATE) AS due_date,
        |  datediff('day', o_orderdate, DATE '1998-12-31') AS days_to_eoy,
        |  last_day(o_orderdate) AS month_end
        |FROM orders""".stripMargin,
    "f3_math_fns" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(abs(l_extendedprice - l_quantity * 1000), 2) AS abs_diff,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  round(sqrt(l_quantity), 4) AS qty_sqrt,
        |  round(ln(l_extendedprice), 4) AS price_ln,
        |  round(pow(l_discount + 1, 2), 4) AS disc_sq,
        |  l_orderkey % 7 AS key_mod7,
        |  CAST(sign(l_quantity - 25) AS BIGINT) AS qty_sign
        |FROM lineitem""".stripMargin,
    "f4_array_fns" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_words,
        |  len(list_distinct(string_split(text, ' '))) AS n_uniq,
        |  CAST(list_contains(string_split(text, ' '), 'spark') AS INT) AS has_spark,
        |  string_split(text, ' ')[1] AS first_word,
        |  string_split(text, ' ')[-1] AS last_word,
        |  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ' ') AS top3_sorted
        |FROM documents""".stripMargin,
    "f5_json_fns" ->
      """SELECT event_id,
        |  CAST(props->>'$.k' AS BIGINT) AS prop_k,
        |  CAST(props->>'$.k' AS BIGINT) % 10 AS prop_k_mod
        |FROM events""".stripMargin,
    "f6_hash_fns" ->
      """SELECT doc_id,
        |  md5(text) AS text_md5,
        |  sha256(text) AS text_sha256,
        |  length(text) % 64 AS len_bucket
        |FROM documents""".stripMargin,
    "f8_timestamp_fns" ->
      """SELECT event_id,
        |  hour(ts) AS hr,
        |  minute(ts) AS mins,
        |  dayofweek(ts) + 1 AS dow,
        |  epoch_us(ts) // 1000000 AS epoch_s,
        |  strftime(ts, '%Y-%m-%d %H') AS hour_key,
        |  epoch_us(ts) % 86400000000 AS us_into_day
        |FROM events""".stripMargin,
    "f9_string_distance" ->
      """SELECT doc_id,
        |  levenshtein(source, 'src12') AS lev_to_src12,
        |  levenshtein(lang, source) AS lev_lang_src
        |FROM documents""".stripMargin,
    "f10_regexp_fns" ->
      """SELECT p_partkey,
        |  regexp_extract(p_type, '([A-Z]+)', 1) AS first_caps,
        |  CAST(regexp_matches(p_type, 'STEEL|BRASS') AS INT) AS is_metal,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
        |  len(regexp_extract_all(p_name, '[a-z]+')) AS n_lower_runs
        |FROM part""".stripMargin,
    "q6_having" ->
      """SELECT c_mktsegment, round(avg(c_acctbal), 2) AS avg_bal, count(*) AS n
        |FROM customer GROUP BY c_mktsegment
        |HAVING round(avg(c_acctbal), 2) > 4400 AND count(*) > 10""".stripMargin,
    "f7_conditional_fns" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000 THEN 'high'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'low' END AS price_band,
        |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
        |  least(length(o_orderpriority), 8) AS prio_capped,
        |  greatest(round(o_totalprice * 0.1, 3), 50.0) AS fee
        |FROM orders""".stripMargin,
    // The oracle computes the extracted scalars directly: what's under test
    // is Spark's map build/extract round-trip, not DuckDB's map type.
    "f11_map_fns" ->
      """SELECT l_orderkey,
        |  l_quantity AS m_qty,
        |  l_extendedprice AS m_price,
        |  2 AS n_keys,
        |  1 AS has_qty
        |FROM lineitem WHERE l_linenumber = 1""".stripMargin,
    // The oracle computes each URL component directly from the row fields
    // the URL was built from — ground truth, not DuckDB's URL parser.
    "f18_url_fns" ->
      """SELECT doc_id,
        |  source || '.example.com' AS host,
        |  '/docs/' || CAST(doc_id AS VARCHAR) AS path,
        |  lang AS qlang,
        |  lang || ' ' || source AS decoded
        |FROM documents""".stripMargin,
    "f19_csv_fns" ->
      """SELECT doc_id,
        |  CAST(doc_id AS VARCHAR) || ',' || lang || ',' || CAST(n_chars AS VARCHAR) AS csv_line,
        |  doc_id AS p_id, lang AS p_lang, n_chars AS p_chars
        |FROM documents""".stripMargin,
    "f17_hof_fns" ->
      """SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), w -> length(w) > 8)) > 0 AS has_long_word,
        |  len(list_filter(string_split(text, ' '), w -> length(w) >= 30)) = 0 AS all_words_short,
        |  CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT)
        |    AS total_word_chars
        |FROM documents""".stripMargin,
    "u3_udtf_ngrams" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents)
        |SELECT doc_id, i - 1 AS pos, concat_ws(' ', ws[i], ws[i+1]) AS gram
        |FROM w, LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(i)
        |WHERE len(ws) >= 2""".stripMargin,
    "f22_listagg" ->
      """WITH t AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderpriority,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ','
        |             ORDER BY CAST(o_orderkey AS VARCHAR)) AS key_list,
        |  count(*) AS n
        |FROM t WHERE rn <= 5
        |GROUP BY o_orderpriority""".stripMargin,
    "f21_crypto_fns" ->
      """SELECT doc_id,
        |  substring(sha256(text), 1, 16) AS sha_prefix,
        |  true AS aes_roundtrip_ok
        |FROM documents""".stripMargin,
    "f20_variant" ->
      """SELECT event_id,
        |  CAST(props->>'$.k' AS BIGINT) AS vk,
        |  props->>'$.k' AS vk_str,
        |  CAST(props->>'$.missing' AS BIGINT) AS v_missing
        |FROM events""".stripMargin,
    "f16_decimal_math" ->
      """SELECT o_orderstatus,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS VARCHAR) AS total_exact,
        |  CAST(CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS VARCHAR) AS max_exact,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "f15_try_fns" ->
      """SELECT doc_id,
        |  TRY_CAST(source AS INT) AS src_as_int,
        |  TRY_CAST(substr(source, 4) AS INT) AS src_num,
        |  TRY_CAST(lang AS DATE) AS lang_as_date,
        |  TRY_CAST(n_chars AS INT) AS chars_int
        |FROM documents""".stripMargin,
    "f14_interval_arith" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_2m,
        |  CAST(o_orderdate + INTERVAL 10 DAY AS DATE) AS plus_10d,
        |  CAST(o_orderdate - INTERVAL 7 DAY AS DATE) AS week_ago,
        |  CAST(isodow(o_orderdate) AS INT) AS iso_dow,
        |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week
        |FROM orders""".stripMargin,
    "f12_struct_fns" ->
      """SELECT c_custkey,
        |  c_acctbal AS s_bal,
        |  upper(c_mktsegment) AS s_seg,
        |  CAST(c_nationkey < 12 OR (c_nationkey = 12 AND c_custkey < 0) AS INT) AS s_lt
        |FROM customer""".stripMargin,
    "f13_bitwise" ->
      """SELECT l_orderkey,
        |  l_orderkey & 255 AS low_byte,
        |  l_orderkey << 2 AS shl2,
        |  l_orderkey >> 1 AS shr1,
        |  xor(l_orderkey, 42) AS xor42,
        |  CAST(bit_count(l_orderkey) AS INT) AS popcount
        |FROM lineitem WHERE l_linenumber = 1""".stripMargin
  )
}
