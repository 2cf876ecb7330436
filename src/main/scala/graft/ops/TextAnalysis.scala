package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Text-analysis operators for an LLM training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting. All absent from
  * the reference (SURVEY.md §2.2 — north-star extension surface).
  *
  * Everything is built from codegen'd built-ins (regexp, split, aggregate
  * over arrays) — no UDFs — so the operators are pure map-side projections
  * that scale linearly and never shuffle. Each formula is deterministic and
  * re-expressed identically in DuckDB oracle SQL, so the driver verifies the
  * computation bit-for-bit.
  */
object TextAnalysis {

  /** Stopword marker sets per language for the n-gram/stopword-hit
    * language-ID heuristic. Scores are hit *counts* of language-specific
    * function words; argmax with a fixed language-order tiebreak.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "在", "了", "和")
  )

  private def hitCount(words: Column, markers: Seq[String]): Column =
    aggregate(
      filter(words, w => w.isInCollection(markers)),
      lit(0L), (acc, _) => acc + 1L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t17_lexical_diversity" -> { (s, d) =>
      // Lexical diversity — the repetition-complement quality signals a
      // corpus filter keys on: type-token ratio (distinct/total words; low
      // TTR = templated/boilerplate text) and hapax share (fraction of
      // the vocabulary used exactly once; low = looping generation). ONE
      // shuffle at (doc, word) grain — explode, count per (doc, word),
      // re-aggregate — never a per-doc quadratic lambda; the ratios are
      // integer divisions, so the unrounded doubles match any engine.
      Tables.table(s, d, "documents")
        .select(col("doc_id"), explode(
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
          (col("n_hapax").cast("double") / col("n_types")).as("hapax_share"))
    },
    "t1_lang_id" -> { (s, d) =>
      // Stopword-hit language ID: count marker words per language, pick the
      // argmax (earlier language wins ties — "und"/"la" overlaps decided by
      // the fixed order). A real pipeline swaps in char-n-gram profiles; the
      // plumbing (map-side scoring + argmax, zero shuffles) is identical.
      val df = Tables.table(s, d, "documents")
        .withColumn("words", split(col("text"), " "))
      val scored = langMarkers.foldLeft(df) { case (acc, (lang, markers)) =>
        acc.withColumn(s"score_$lang", hitCount(col("words"), markers))
      }
      val best = langMarkers.map(_._1).foldRight(lit("und")) {
        case (lang, elseCol) =>
          val isMax = langMarkers.map(_._1).filter(_ != lang)
            .map(o => col(s"score_$lang") >= col(s"score_$o"))
            .reduce(_ && _)
          when(col(s"score_$lang") > 0 && isMax, lit(lang)).otherwise(elseCol)
      }
      // NB foldRight gives first-listed language priority on ties.
      scored.select(
        col("doc_id"),
        col("score_en"), col("score_de"), col("score_es"), col("score_fr"), col("score_zh"),
        best.as("pred_lang"))
    },
    "t2_quality_score" -> { (s, d) =>
      // Heuristic quality scoring: length, mean word length, stopword ratio,
      // non-alpha ratio — combined into a 0..1-ish score. All map-side.
      val words = split(col("text"), " ")
      val nWords = size(words).cast("double")
      val stopRatio = hitCount(words, Seq("the", "a", "of", "and", "to", "is")).cast("double") / nWords
      val alphaChars = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
      val nonAlphaRatio = lit(1.0) - alphaChars / length(col("text")).cast("double")
      val meanWordLen = (length(col("text")).cast("double") - nWords + 1) / nWords
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_words"),
        round(stopRatio, 4).as("stop_ratio"),
        round(nonAlphaRatio, 4).as("non_alpha_ratio"),
        round(meanWordLen, 4).as("mean_word_len"),
        round(
          when(nWords < 5, 0.0).otherwise(
            lit(0.5) * least(nWords / 100.0, lit(1.0))
              + lit(0.3) * least(stopRatio * 5, lit(1.0))
              + lit(0.2) * (lit(1.0) - nonAlphaRatio)),
          4).as("quality"))
    },
    "t3_token_count" -> { (s, d) =>
      // Token counting two ways: whitespace tokens and a BPE-ish regex
      // tokenizer (runs of letters | runs of digits | single non-space
      // punctuation) — the pre-tokenizer shape GPT-style BPE uses.
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))
          .as("bpe_pretokens"),
        regexp_count(col("text"), lit("[a-zA-Z0-9]+")).as("word_tokens"),
        (length(col("text")) + 3).cast("long"). // ~4 chars/token heuristic
          divide(4).cast("long").as("approx_bpe_tokens"))
    },
    "t7_normalize" -> { (s, d) =>
      // Canonical text cleaning: lowercase, strip non-alphanumerics,
      // collapse whitespace, drop stopwords — the first stage of every
      // LLM-corpus pipeline. Pure codegen'd projections.
      val stop = Seq("the", "a", "of", "and", "to", "is", "in")
      val cleaned = regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        concat_ws(" ",
          filter(split(trim(cleaned), " "), w => !w.isInCollection(stop) && w =!= ""))
          .as("clean_text"))
    },
    "t6_tfidf" -> { (s, d) =>
      // TF-IDF over the corpus: tf = term count in doc, idf = ln(N/df).
      // Two aggregations over one exploded pass + a broadcast join of the
      // (vocabulary-sized) df table — the standard scalable shape. Output
      // restricted to the top-scoring term per doc (deterministic
      // tie-break) to keep the result compact.
      import org.apache.spark.sql.expressions.Window
      val terms = Tables.table(s, d, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      // df falls out of tf for free: tf has one row per (doc, term), so the
      // per-term row count IS the document frequency — no second explode
      // pass, no distinct shuffle; the tf exchange is reused for both sides.
      val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // N rides a broadcast one-row aggregate inside the SAME job — no
      // separate count() action, no extra scan of the documents table.
      // The plan is a BroadcastNestedLoopJoin whose build side is a
      // global aggregate — provably one row, so the "nested loop" is a
      // constant append per row (PlanAuditSpec admits exactly this form).
      val nDocs = Tables.table(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      tf.join(broadcast(df_), "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("term").as("top_term"), col("tfidf").as("top_tfidf"))
    },
    "t18_retrieval_metrics" -> { (s, d) =>
      // Retrieval EVALUATION harness — the measurement half of a RAG
      // pipeline: per-query precision@10 / recall@10 / reciprocal rank
      // of a deterministic tf-ranked retrieval, scored against
      // position-derived pseudo-qrels (relevant = the query term appears
      // in the document's first 200 chars — deliberately DECORRELATED
      // from the tf ranking, so the metrics are non-trivial). Integer
      // ranks + single-division doubles keep every emitted value
      // bit-identical across engines (no sum-of-doubles whose order
      // could wobble — per-QUERY grain, never a cross-query mean).
      //
      // Scale shape: the query set is a literal explode (|Q| rows per
      // doc, map-side); ranking is one |Q|-partition window over only
      // the docs that MATCH each query; qrel totals are one aggregate
      // on the same frame. Nothing corpus-squared anywhere.
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("spark", "vector", "merge", "window", "stream")
      val k = 10
      val graded = Tables.table(s, d, "documents")
        .select(col("doc_id"), lower(col("text")).as("t"),
          explode(array(terms.map(lit): _*)).as("term"))
        .select(col("doc_id"), col("term"),
          expr("size(filter(split(t, ' '), x -> x = term))").as("tf"),
          expr("CASE WHEN instr(t, term) BETWEEN 1 AND 200 THEN 1 ELSE 0 END").as("rel"))
      val w = Window.partitionBy(col("term")).orderBy(col("tf").desc, col("doc_id"))
      val ranked = graded.filter(col("tf") > 0).withColumn("rank", row_number().over(w))
      val rels = graded.groupBy(col("term")).agg(sum(col("rel")).as("n_relevant"))
      ranked.groupBy(col("term")).agg(
          count(lit(1)).as("n_retrieved"),
          sum(when(col("rank") <= k && col("rel") === 1, 1L).otherwise(0L)).as("hits_at_10"),
          min(when(col("rank") <= k && col("rel") === 1, col("rank"))).as("frr"))
        .join(rels, "term")
        .select(col("term"), col("n_relevant"), col("n_retrieved"), col("hits_at_10"),
          (col("hits_at_10").cast("double") / lit(10)).as("precision_at_10"),
          (col("hits_at_10").cast("double") / col("n_relevant")).as("recall_at_10"),
          coalesce(lit(1.0) / col("frr"), lit(0.0)).as("rr_at_10"))
    },
    "t14_bm25" -> { (s, d) =>
      // BM25 ranked retrieval (Robertson–Spärck Jones, the lexical
      // retrieval baseline behind most RAG pipelines): score every
      // document for a fixed query-term set, return the top 20.
      //
      // Scale shape: doc length is map-side (no shuffle); the explode is
      // filtered to the QUERY TERMS before the one (doc, term) shuffle,
      // so the exchange carries |query| rows per doc, not |vocab|; df
      // and the corpus stats are broadcast one-row/vocab-sized builds.
      // avgdl is derived as exact-integer sum/count (not avg()) so both
      // engines compute the identical double before any fp arithmetic.
      val queryTerms = Seq("spark", "vector", "merge")
      // Literal constants, pre-folded: computing k1+1 in Scala double
      // arithmetic could differ from the oracle's 2.2 literal in the
      // last ulp; 1-b = 0.25 is exact but folded anyway for symmetry.
      val k1 = 1.2
      val k1Plus1 = 2.2
      val b = 0.75
      val oneMinusB = 0.25
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        // same ≥3-char token filter as the t13 inverted index
        .select(col("doc_id"), col("toks"),
          size(filter(col("toks"), t => length(t) >= 3)).as("dl"))
      val stats = docs.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val tf = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
        .filter(col("tok").isin(queryTerms: _*))
        .groupBy(col("doc_id"), col("dl"), col("tok")).agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(df_), "tok")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
            (col("tf") * lit(k1Plus1)) /
            (col("tf") + lit(k1) * (lit(oneMinusB) + lit(b) * col("dl") / col("avgdl"))))
            .as("contrib"))
        .groupBy(col("doc_id")).agg(round(sum(col("contrib")), 4).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)
    },
    "t5_fnv_fingerprint" -> { (s, d) =>
      // Native codegen'd Catalyst expression (graft.functions.FnvHash64)
      // through the SQL function registry — the custom-Expression tier.
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        expr("fnv64(text)").as("fnv"),
        pmod(expr("fnv64(text)"), lit(1024)).as("shard"))
    },
    "t4_fingerprint" -> { (s, d) =>
      // Normalized document fingerprint (the "collection fingerprint" of
      // Gionis et al-style dedup pipelines): lowercase, tokenise, distinct,
      // sort, re-join, hash. Identical content ⇒ identical fingerprint
      // regardless of word order / duplication.
      val canon = concat_ws(" ", sort_array(array_distinct(split(lower(col("text")), " "))))
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        md5(canon).as("fingerprint"),
        sha2(canon, 256).as("fingerprint_strong"))
    },
    "t13_inverted_index" -> { (s, d) =>
      // Inverted-index build (the search-index bootstrap over a corpus):
      // token → document frequency + the first few posting ids. One
      // shuffle on token; within-doc duplicates collapse map-side
      // (array_distinct before the explode), so the exchange carries one
      // row per (token, doc). The head-postings cap bounds the aggregate
      // output; at web scale cap the collected state too (positional
      // window per token) instead of collecting full posting sets.
      val toks = Tables.table(s, d, "documents")
        .select(col("doc_id"),
          explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
        .filter(length(col("tok")) >= 3)
      toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("df"),
          array_join(slice(sort_array(collect_set(col("doc_id"))), 1, 5)
            .cast("array<string>"), ",").as("head_postings"))
    },
    "t9_redact" -> { (s, d) =>
      // PII scrubbing: mask emails and URLs, count what was masked — the
      // standard pre-training redaction pass. Patterns restricted to
      // syntax Java regex and RE2 share, so the oracle runs them verbatim.
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"
      val url = "https?://[^ ]+"
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"), url, "<URL>")
          .as("redacted"),
        regexp_count(col("text"), lit(email)).as("n_emails"),
        regexp_count(col("text"), lit(url)).as("n_urls"))
    },
    "t8_sentence_stats" -> { (s, d) =>
      // Sentence segmentation stats: split on '.', drop whitespace-only
      // fragments, words-per-sentence density — a map-side projection like
      // every other text op.
      val sentences = filter(split(col("text"), "\\."), p => length(trim(p)) > 0)
      val nWords = size(split(col("text"), " "))
      Tables.table(s, d, "documents").select(
        col("doc_id"),
        size(sentences).as("n_sentences"),
        when(size(sentences) > 0,
          round(nWords.cast("double") / size(sentences), 4)).otherwise(0.0)
          .as("words_per_sentence"))
    }
  )

  private val langScoreSql: String = langMarkers.map { case (lang, ms) =>
    val list = ms.map(m => s"'$m'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), w -> w IN ($list))) AS score_$lang"
  }.mkString(",\n  ")

  private val langBestSql: String = {
    val langs = langMarkers.map(_._1)
    val cases = langs.map { lang =>
      val isMax = langs.filter(_ != lang).map(o => s"score_$lang >= score_$o").mkString(" AND ")
      s"WHEN score_$lang > 0 AND $isMax THEN '$lang'"
    }.mkString("\n    ")
    s"CASE $cases ELSE 'und' END"
  }

  val oracleSql: Map[String, String] = Map(
    "t17_lexical_diversity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |  FROM documents),
        |per AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY doc_id, w)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS ttr,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS hapax_share
        |FROM per GROUP BY doc_id""".stripMargin,
    "t1_lang_id" ->
      s"""SELECT doc_id, score_en, score_de, score_es, score_fr, score_zh,
         |  $langBestSql AS pred_lang
         |FROM (SELECT doc_id,
         |  $langScoreSql
         |FROM documents)""".stripMargin,
    "t2_quality_score" ->
      """SELECT doc_id, n_words,
        |  round(stop_ratio, 4) AS stop_ratio,
        |  round(non_alpha_ratio, 4) AS non_alpha_ratio,
        |  round(mean_word_len, 4) AS mean_word_len,
        |  round(CASE WHEN n_words < 5 THEN 0.0 ELSE
        |    0.5 * least(n_words / 100.0, 1.0)
        |    + 0.3 * least(stop_ratio * 5, 1.0)
        |    + 0.2 * (1.0 - non_alpha_ratio) END, 4) AS quality
        |FROM (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_words,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the','a','of','and','to','is'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stop_ratio,
        |    1.0 - CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |      / length(text) AS non_alpha_ratio,
        |    (CAST(length(text) AS DOUBLE) - len(string_split(text, ' ')) + 1)
        |      / len(string_split(text, ' ')) AS mean_word_len
        |  FROM documents)""".stripMargin,
    "t3_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_pretokens,
        |  len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS word_tokens,
        |  CAST((length(text) + 3) // 4 AS BIGINT) AS approx_bpe_tokens
        |FROM documents""".stripMargin,
    "t7_normalize" ->
      """SELECT doc_id,
        |  array_to_string(list_filter(
        |    string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),
        |    w -> w NOT IN ('the','a','of','and','to','is','in') AND w <> ''), ' ') AS clean_text
        |FROM documents""".stripMargin,
    "t6_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |    round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term AS top_term, tfidf AS top_tfidf FROM (
        |  SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        |  FROM scored) t
        |WHERE rn = 1""".stripMargin,
    "t18_retrieval_metrics" ->
      """WITH graded AS (
        |  SELECT d.doc_id, q.term,
        |    len(list_filter(string_split(lower(d.text), ' '), x -> x = q.term)) AS tf,
        |    CASE WHEN strpos(lower(d.text), q.term) BETWEEN 1 AND 200
        |         THEN 1 ELSE 0 END AS rel
        |  FROM documents d,
        |       (SELECT unnest(['spark','vector','merge','window','stream']) AS term) q
        |),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rank
        |  FROM graded WHERE tf > 0
        |),
        |rels AS (SELECT term, CAST(sum(rel) AS BIGINT) AS n_relevant
        |         FROM graded GROUP BY term),
        |ret AS (
        |  SELECT term, count(*) AS n_retrieved,
        |    CAST(sum(CASE WHEN rank <= 10 AND rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_10,
        |    min(CASE WHEN rank <= 10 AND rel = 1 THEN rank END) AS frr
        |  FROM ranked GROUP BY term
        |)
        |SELECT term, n_relevant, n_retrieved, hits_at_10,
        |  CAST(hits_at_10 AS DOUBLE) / 10 AS precision_at_10,
        |  CAST(hits_at_10 AS DOUBLE) / n_relevant AS recall_at_10,
        |  coalesce(CAST(1 AS DOUBLE) / frr, CAST(0 AS DOUBLE)) AS rr_at_10
        |FROM ret JOIN rels USING (term)""".stripMargin,
    // Constants pre-folded identically to the Spark side: k1+1 = 2.2,
    // 1-b = 0.25, k1 = 1.2, b = 0.75; avgdl = exact-int sum/count.
    "t14_bm25" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(lower(text), ' '), t -> length(t) >= 3)) AS dl,
        |    string_split(lower(text), ' ') AS toks
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM docs),
        |tf AS (
        |  SELECT doc_id, dl, tok, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM docs)
        |  WHERE tok IN ('spark', 'vector', 'merge')
        |  GROUP BY doc_id, dl, tok),
        |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
        |SELECT doc_id,
        |  round(sum(
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
        |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
        |FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
        |GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 20""".stripMargin,
    // FNV-1a re-derived in DuckDB via a HUGEINT list_reduce mod 2^64 (text
    // is ASCII so ord(char) == byte).
    "t5_fnv_fingerprint" ->
      """WITH r AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(14695981039346656037::HUGEINT,
        |      list_transform(range(1, length(text) + 1), i -> ord(substr(text, i, 1))::HUGEINT)),
        |    (acc, b) -> ((acc - acc % 256 +
        |        xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT))::HUGEINT)
        |      * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS hv
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN hv >= 9223372036854775808::HUGEINT
        |            THEN hv - 18446744073709551616::HUGEINT ELSE hv END AS BIGINT) AS fnv,
        |  CAST(hv % 1024 AS BIGINT) AS shard
        |FROM r""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint,
        |  sha256(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint_strong
        |FROM documents""".stripMargin,
    "t13_inverted_index" ->
      """WITH u AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |           FROM documents),
        |t AS (SELECT DISTINCT doc_id, tok FROM u WHERE length(tok) >= 3)
        |SELECT tok, count(*) AS df,
        |  array_to_string((list(doc_id ORDER BY doc_id))[1:5], ',') AS head_postings
        |FROM t GROUP BY tok""".stripMargin,
    "t9_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INT) AS n_urls
        |FROM documents""".stripMargin,
    "t8_sentence_stats" ->
      """SELECT doc_id,
        |  len(list_filter(string_split(text, '.'), p -> length(trim(p)) > 0)) AS n_sentences,
        |  CASE WHEN len(list_filter(string_split(text, '.'), p -> length(trim(p)) > 0)) > 0
        |    THEN round(CAST(len(string_split(text, ' ')) AS DOUBLE)
        |      / len(list_filter(string_split(text, '.'), p -> length(trim(p)) > 0)), 4)
        |    ELSE 0.0 END AS words_per_sentence
        |FROM documents""".stripMargin
  )
}
