package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, Substrate, Tables}
import graft.Query.ArgOps
import graft.functions.WordTokens.word_tokens

/** The reference's shipped example jobs (SURVEY.md §2.2 E1-E9), re-expressed
  * as declarative Spark plans over `documents`/`events`.
  *
  * Reference semantics (cited per query):
  *  - wordcount: examples/wordcount/{mapper,reducer}.py — tokenize
  *    `\b\w+\b` after lower(), count per token, keys sorted.
  *  - grep: examples/grep/{mapper,reducer}.py — case-insensitive regex
  *    filter, count duplicate matching lines.
  *  - inverted index: examples/inverted_index/{mapper,reducer}.py — per-doc
  *    distinct tokens of length > 2 → sorted comma-joined posting list.
  *  - url_analyzer (documented only, documentation.md:624-653): multi-key
  *    fan-out counts → GROUPING SETS shape.
  *  - ngram (documented only, documentation.md:655-681): adjacent-token
  *    bigram counts.
  *
  * Scale notes: every query here is scan → narrow transforms → single
  * hash-aggregate shuffle. Tokenization happens map-side (inside the scan
  * stage's whole-stage codegen), so the shuffle carries (token, partial
  * count) — identical shape to the reference's combiner-less map/shuffle but
  * with Spark's partial aggregation cutting shuffle volume by ~vocab/corpus
  * ratio. No collect(), no driver state; all safe at 100 TB.
  */
object TextJobs {

  /** E1+E2 wordcount. The words of `lower(text)` (maximal `[A-Za-z0-9_]`
    * runs) ≙ reference's `\b\w+\b` findall (examples/wordcount/mapper.py:8)
    * for ASCII text. */
  def wordcount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(word_tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  private val GrepPattern = "error"

  /** E3+E4 grep: keep lines (here: docs) matching a pattern
    * case-insensitively, count occurrences of each distinct matching text.
    * Pattern parameterization ≙ GREP_PATTERN env (mapper.py:15); we fix the
    * reference default "error". */
  def grep(spark: SparkSession, sfDir: String, pattern: String = GrepPattern): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("text").rlike("(?i)" + pattern))
      .groupBy(col("text")).agg(count(lit(1)).as("cnt"))
      .orderBy("text")

  /** E5+E6+E7 inverted index over `documents` (doc_id is already a typed
    * column, so E5's "doc_id: content" parse is the identity here — see
    * [[invertedIndexRaw]] for the raw-line variant honoring E5 exactly).
    * Per-doc distinct tokens len>2 (mapper.py:31-37), posting list =
    * sorted distinct doc_ids comma-joined (reducer.py:23-27). */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(word_tokens(col("text")))).as("word"))
      .filter(length(col("word")) > 2)
      .groupBy("word")
      // sort_array, not array_sort: the comparator-less array_sort runs
      // its default comparator lambda interpreted per comparison;
      // collect_set holds no NULLs, so both orders are identical. The set
      // collects longs and casts once: long → string is injective, and
      // the sort still runs on the strings.
      .agg(concat_ws(",",
        sort_array(collect_set(col("doc_id")).cast("array<string>"))).as("doc_ids"),
        count(lit(1)).as("n_docs"))
      .orderBy("word")

  /** E5 exactly: parse synthetic `"{doc_id}: {content}"` lines, skipping
    * malformed ones (inverted_index/mapper.py:21-28). We rebuild the
    * reference's raw-line input shape from `documents` (concat), then parse
    * it back — proving the split-on-first-colon + malformed-skip semantics. */
  def invertedIndexRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val lines = Tables.documents(spark, sfDir)
      .select(concat(col("doc_id").cast("string"), lit(": "), col("text")).as("line"))
    lines
      // split on FIRST colon (mapper.py:24 `split(':', 1)`) without regex:
      // substring_index + offset substr are plain codegen'd string ops
      .withColumn("sep", instr(col("line"), ":"))
      .filter(col("sep") > 0)  // malformed-skip (no colon)
      .withColumn("doc_id", col("line").substr(lit(1), col("sep") - 1))
      .withColumn("content",
        ltrim(col("line").substr(col("sep") + 1, length(col("line")))))
      .select(col("doc_id"),
        explode(array_distinct(word_tokens(col("content")))).as("word"))
      .filter(length(col("word")) > 2)
      .groupBy("word")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("word")
  }

  /** E8 url_analyzer shape (documentation.md:624-653): one pass over
    * `events`, counting by (event_type), (status bucket from props.k), and
    * (event_type, status) — the reference fans out 3 key families from one
    * mapper; the relational ancestor is GROUPING SETS, which Spark computes
    * in a single shuffle with an Expand node (not three scans). */
  def multiKeyCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        (get_json_object(col("props"), "$.k").cast("int") % 10).as("k_bucket"))
      .groupingSets(
        Seq(Seq(col("event_type")), Seq(col("k_bucket")),
            Seq(col("event_type"), col("k_bucket"))),
        col("event_type"), col("k_bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("event_type").asc_nulls_first, col("k_bucket").asc_nulls_first)

  /** E8 in the reference's EXACT output shape (documentation.md:647-653):
    * one flat string key per fan-out family — `type:X`, `bucket:Y`,
    * `type_bucket:X:Y` — with counts, as the url_analyzer mapper would
    * emit. Same single-shuffle GROUPING SETS plan as [[multiKeyCounts]],
    * just projected to the reference's key encoding. */
  def multiKeyFlat(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        (get_json_object(col("props"), "$.k").cast("int") % 10).as("k_bucket"))
      .groupingSets(
        Seq(Seq(col("event_type")), Seq(col("k_bucket")),
            Seq(col("event_type"), col("k_bucket"))),
        col("event_type"), col("k_bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        when(col("event_type").isNotNull && col("k_bucket").isNotNull,
          concat(lit("type_bucket:"), col("event_type"), lit(":"), col("k_bucket")))
          .when(col("event_type").isNotNull,
            concat(lit("type:"), col("event_type")))
          .otherwise(concat(lit("bucket:"), col("k_bucket")))
          .as("key"),
        col("cnt"))
      .orderBy("key", "cnt")

  val multiKeyFlatSql: String =
    """SELECT CASE
      |         WHEN event_type IS NOT NULL AND k_bucket IS NOT NULL
      |           THEN 'type_bucket:' || event_type || ':' || k_bucket
      |         WHEN event_type IS NOT NULL THEN 'type:' || event_type
      |         ELSE 'bucket:' || k_bucket END AS key,
      |       count(*) AS cnt
      |FROM (SELECT event_type,
      |             CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket
      |      FROM events)
      |GROUP BY GROUPING SETS ((event_type), (k_bucket), (event_type, k_bucket))
      |ORDER BY key, cnt""".stripMargin

  private val BigramsTopN = 100

  /** E9 ngram (documentation.md:655-681): adjacent-token bigrams + counts.
    * Array zip of tokens with its own tail — stays inside whole-stage
    * codegen, no window shuffle needed (the window alternative would
    * partition by doc and sort by position; zip_with is strictly cheaper). */
  def bigrams(spark: SparkSession, sfDir: String, topN: Int = BigramsTopN): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(word_tokens(col("text")).as("t"))
    toks
      .select(explode(zip_with(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("bigram"))
      .limit(topN)
  }

  /** F8 TSV sink round-trip (worker/worker.py:164-171): `key\tvalue` text
    * is the reference's only output format. Write wordcount as TSV lines,
    * read them back, and re-parse — the registered result is the
    * round-tripped table, oracled against the same wordcount SQL, so the
    * sink's encode→decode is inside the driver's correctness gate. Output
    * lands in the JVM temp dir (per-sfDir path, overwritten per run); the
    * write is a distributed text sink — one file per partition, exactly
    * the reference worker's sharded `part-*` layout. */
  def wordcountTsv(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Substrate.sessionDir(spark, "graft_tsv_", sfDir)
    wordcount(spark, sfDir)
      .select(concat_ws("\t", col("word"), col("cnt")).as("value"))
      .write.mode("overwrite").text(out)
    spark.read.text(out)
      .select(split(col("value"), "\t").as("kv"))
      .select(col("kv")(0).as("word"), col("kv")(1).cast("long").as("cnt"))
      .orderBy("word")
  }

  private val ResultsLimitN = 20

  /** F10 results read + limit (client/client.py:120-142: concatenate the
    * job's `reduce-*.txt` sorted, take the first N lines): write wordcount
    * in the reference's TSV results format, read the results dir back, and
    * return the first N entries in key order. The reference's "first N
    * lines of name-sorted part files" is only deterministic because its
    * reducers sort keys; the Spark twin makes that explicit with a global
    * key order, planned as TakeOrderedAndProject (top-N per partition +
    * driver merge of N rows — never a full sort or a single-partition
    * funnel). */
  def resultsLimit(spark: SparkSession, sfDir: String, n: Int = ResultsLimitN): DataFrame = {
    val out = Substrate.sessionDir(spark, "graft_results_", sfDir)
    wordcount(spark, sfDir)
      .select(concat_ws("\t", col("word"), col("cnt")).as("value"))
      .write.mode("overwrite").text(out)
    spark.read.text(out)
      .select(split(col("value"), "\t").as("kv"))
      .select(col("kv")(0).as("word"), col("kv")(1).cast("long").as("cnt"))
      .orderBy("word").limit(n)
  }

  /** CSV source round-trip: write `events` (id, type, value) as headered
    * CSV, read it back with an explicit schema, aggregate — proving the
    * CSV source end-to-end through the driver's oracle gate (the
    * source-side complement of [[wordcountTsv]]'s text sink; quoting and
    * type inference are where CSV round-trips usually break). */
  def eventsCsv(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Substrate.sessionDir(spark, "graft_csv_", sfDir)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").option("header", "true").csv(out)
    spark.read
      .schema("event_id BIGINT, event_type STRING, value DOUBLE")
      .option("header", "true").csv(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(Det.cents(col("value"))).as("value_cents"))
      .orderBy("event_type")
  }

  /** JSON-lines source round-trip: write `events` as JSONL, read back
    * with an explicit schema, aggregate — the third leg of the source
    * matrix (text/TSV sink, CSV, JSON). JSON round-trips stress nested
    * quoting (the `props` column is itself a JSON string — it must
    * survive being embedded inside a JSON document) and number
    * formatting. */
  def eventsJsonl(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Substrate.sessionDir(spark, "graft_jsonl_", sfDir)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("props"))
      .write.mode("overwrite").json(out)
    spark.read
      .schema("event_id BIGINT, event_type STRING, props STRING")
      .json(out)
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum("k").as("sum_k"),
        count(when(col("k").isNull, 1)).as("n_null_k"))
      .orderBy("event_type")
  }

  /** ORC source/sink round-trip — the second COLUMNAR leg of the source
    * matrix (parquet is the fixture native; ORC ships built-in with
    * Spark). Unlike the CSV/JSONL legs there is no schema re-declaration:
    * ORC stores types natively, so the read-back schema IS the written
    * one, and stripe stats give the same pushdown behavior as parquet at
    * scale. The min/max aggregates ride on exactly those stats. Oracle
    * reads the parquet ORIGINAL — lossless round-trip is the assertion. */
  def eventsOrc(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Substrate.sessionDir(spark, "graft_orc_", sfDir)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(Det.cents(col("value"))).as("value_cents"),
        min("event_id").as("min_event"),
        max("event_id").as("max_event"))
      .orderBy("event_type")
  }

  // --------------------------------------------------------------------
  // Arg-templated oracle twins (`Query.templated` entries): the exact
  // SQL the fixed registry interpolates, with the user argument spliced
  // in — so a non-default-arg run stays hash-checkable instead of
  // silently escaping the oracle gate (r9 verdict #4). The registered
  // oracle IS the template at the registered arguments, so the two
  // cannot desynchronize.
  // --------------------------------------------------------------------

  /** SQL string-literal escape for user-supplied patterns (standard ''
    * doubling; DuckDB treats backslashes in '…' literally, matching the
    * regex engine's expectations). */
  private def sqlLit(s: String): String = s.replace("'", "''")

  def grepSqlFor(pattern: String): String =
    s"""SELECT text, count(*) AS cnt FROM documents
       |WHERE regexp_matches(text, '(?i)${sqlLit(pattern)}')
       |GROUP BY text ORDER BY text""".stripMargin

  def resultsLimitSqlFor(limit: Int): String =
    s"""SELECT word, cnt FROM (
       |  SELECT word, count(*) AS cnt
       |  FROM (SELECT unnest(string_split_regex(lower(text), '\\W+')) AS word
       |        FROM documents)
       |  WHERE length(word) > 0
       |  GROUP BY word)
       |ORDER BY word LIMIT $limit""".stripMargin

  def bigramsSqlFor(topN: Int): String =
    s"""SELECT bigram, count(*) AS cnt
       |FROM (
       |  SELECT unnest(list_transform(range(1, len(t)),
       |                               i -> t[i] || ' ' || t[i+1])) AS bigram
       |  FROM (SELECT list_filter(string_split_regex(lower(text), '\\W+'),
       |               x -> length(x) > 0) AS t
       |        FROM documents)
       |)
       |GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT $topN""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("wordcount",
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(lower(text), '\W+')) AS word
        |      FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY word""".stripMargin)(wordcount),
    // TSV round-trip is lossless → same oracle as wordcount
    Query("wordcount_tsv",
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(lower(text), '\W+')) AS word
        |      FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY word""".stripMargin)(wordcountTsv),
    // results read-back is lossless → wordcount oracle, keyed-order LIMIT
    Query.templated("results_limit",
        a => resultsLimitSqlFor(a.int("limit", ResultsLimitN))) { (s, d, a) =>
      resultsLimit(s, d, a.int("limit", ResultsLimitN)) },
    // CSV round-trip is lossless for these types → oracle on the original
    // parquet (cents-integerised so the double sum is order-independent,
    // per the money rule)
    Query("events_csv",
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)(eventsCsv),
    // JSONL round-trip is lossless for these columns → oracle on the
    // original parquet; k re-extracted from the embedded props JSON.
    // The cast is GATED on an integer regexp before TRY_CAST: Spark's
    // string→int cast is null for any non-integral string ('3.5' → NULL),
    // but DuckDB's TRY_CAST parses '3.5' via double and ROUNDS to 4 — the
    // regexp gate pins both engines to null-unless-integral; TRY_CAST
    // then matches Spark's overflow→null for integers beyond int32.
    Query("events_jsonl",
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       count(*) FILTER (k IS NULL) AS n_null_k
        |FROM (SELECT event_type,
        |             CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^[+-]?[0-9]+$')
        |                  THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)(eventsJsonl),
    // ORC round-trip is lossless (native columnar types) → oracle on the
    // original parquet, same cents-integerised sum
    Query("events_orc",
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        |       min(event_id) AS min_event, max(event_id) AS max_event
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)(eventsOrc),
    // "error" is the reference default (grep/mapper.py:15) but absent from
    // this corpus's vocabulary; include "scan" so the query is non-vacuous.
    Query.templated("grep", a => grepSqlFor(a.str("pattern", GrepPattern)),
        registered = Map("pattern" -> "(error|scan)")) { (s, d, a) =>
      grep(s, d, a.str("pattern", GrepPattern)) },
    Query("inverted_index",
      """SELECT word,
        |       list_aggregate(list_sort(list(DISTINCT CAST(doc_id AS VARCHAR))), 'string_agg', ',') AS doc_ids,
        |       count(*) AS n_docs
        |FROM (SELECT DISTINCT doc_id,
        |             unnest(string_split_regex(lower(text), '\W+')) AS word
        |      FROM documents)
        |WHERE length(word) > 2
        |GROUP BY word ORDER BY word""".stripMargin)(invertedIndex),
    Query("inverted_index_raw",
      """SELECT word, count(*) AS n_docs
        |FROM (SELECT DISTINCT doc_id,
        |             unnest(string_split_regex(lower(text), '\W+')) AS word
        |      FROM documents)
        |WHERE length(word) > 2
        |GROUP BY word ORDER BY word""".stripMargin)(invertedIndexRaw),
    Query("multikey_counts",
      """SELECT event_type, k_bucket, count(*) AS cnt
        |FROM (SELECT event_type,
        |             CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket
        |      FROM events)
        |GROUP BY GROUPING SETS ((event_type), (k_bucket), (event_type, k_bucket))
        |ORDER BY event_type ASC NULLS FIRST, k_bucket ASC NULLS FIRST""".stripMargin)(multiKeyCounts),
    Query("multikey_flat", multiKeyFlatSql)(multiKeyFlat),
    Query.templated("bigrams", a => bigramsSqlFor(a.int("top_n", BigramsTopN))) { (s, d, a) =>
      bigrams(s, d, a.int("top_n", BigramsTopN)) },
  )
}
