package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Substrate, Tables}

/** Text-analysis operators over `documents` — the per-document scoring
  * passes of a training-data pipeline: language ID, quality scoring,
  * token counting, winnowing fingerprints, TF-IDF term salience.
  *
  * The per-doc scorers are scan → narrow column math (no shuffle except
  * final ordering, fully codegen'd, no UDFs — at 100 TB they run at
  * parquet-scan speed); TF-IDF adds a df aggregation and a per-doc top-k
  * window. Everything is exact integer or identical-order double
  * arithmetic, so each query has a value-exact DuckDB twin.
  */
object TextAnalysis {

  private[queries] def toks(c: Column): Column =
    filter(split(lower(c), "\\W+"), t => length(t) > 0)

  /** Cache toggle for A/B measurement: SPARK_GRAFT_DISABLE_CACHE=1 turns
    * the measured intra-query caches into pass-throughs so ScaleProbe can
    * price cache-vs-recompute at any corpus size (evidence in PERF.md —
    * CLAUDE.md invariant 4 demands a number, not a hunch). */
  private[queries] def maybeCache(df: DataFrame): DataFrame =
    if (sys.env.get("SPARK_GRAFT_DISABLE_CACHE").contains("1")) df else df.cache()

  /** 4-dp deterministic rounding (see [[Det]] for why round() is unsafe). */
  private def r4(c: Column): Column = Det.r(c, 4)
  private def r4Sql(x: String): String = Det.rSql(x, 4)

  /** Size-gated broadcast decision for a HOT-FINGERPRINT set (fps with
    * df > maxDf). The hot set is Zipf-tiny on clean corpora, but it GROWS
    * with corpus size (boilerplate: license headers, chrome) — an
    * unconditional `broadcast(hot)` violates CLAUDE.md invariant 4 at
    * 100 TB. Rather than count the hot set (that would re-run the
    * fingerprint kernel — an extra corpus pass), gate on a sound upper
    * bound that costs one skinny-column agg: every hot fp has more than
    * `maxDf` occurrences and total fingerprint occurrences ≤ total chars,
    * so |hot| ≤ sum(n_chars)/maxDf. Same knob as Dedup.verifyJaccard
    * (`graft.verify.broadcastMaxBytes`, default 512 MB): under it the
    * anti-join broadcasts (no shuffle of the corpus-sized side); above it
    * the hint is dropped and the anti-join shuffles — with AQE free to
    * re-promote to broadcast if runtime stats say the bound was loose. */
  /** sum(n_chars) per corpus dir, memoized (the bpeMergeMemo/pqMemo
    * pattern — corpus dirs are immutable for a session): the gate input
    * is an EAGER driver action, and ungated it re-ran on every mere
    * CONSTRUCTION of detectContamination/winnowOverlap — including the
    * PlanShapeSpec explain sweep and each Verify/Bench pass. */
  private val totCharsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private[queries] def hotFitsBroadcast(spark: SparkSession, sfDir: String,
                                        maxDf: Int): Boolean = {
    val totChars = totCharsMemo.computeIfAbsent(sfDir, _ =>
      Tables.documents(spark, sfDir)
        .agg(coalesce(sum("n_chars"), lit(0L))).head().getLong(0))
    val upperBytes = totChars / math.max(1, maxDf) * 32L  // 8B fp + row overhead
    upperBytes <= Dedup.broadcastMaxBytes(spark)
  }


  // --------------------------------------------------------------------
  // Language ID (stopword-profile heuristic)
  // --------------------------------------------------------------------

  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pour", "dans"),
    "es" -> Seq("el", "los", "las", "es", "y", "por", "para"))

  /** Occurrence-count language ID: per doc, count token occurrences in
    * each language's tiny stopword profile; argmax with deterministic
    * preference order (en > de > fr > es) on ties. The fixture's `lang`
    * column is a generator label, not a property of the (English-ish)
    * token soup — so the output keeps both for confusion analysis. */
  def langId(spark: SparkSession, sfDir: String): DataFrame =
    langScoredFrame(spark, sfDir).orderBy("doc_id")

  /** [[langId]] without the presentation sort ([[langConfusion]]
    * re-shuffles straight into its rollup). */
  private def langScoredFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), toks(col("text")).as("t"))
    val withHits = stopwords.foldLeft(base) { case (df, (l, ws)) =>
      df.withColumn(s"hits_$l",
        size(filter(col("t"), x => array_contains(array(ws.map(lit): _*), x))))
    }
    val Seq(en, de, fr, es) = stopwords.map(p => col(s"hits_${p._1}"))
    withHits
      .withColumn("pred_lang",
        when(en >= de && en >= fr && en >= es, "en")
          .when(de >= fr && de >= es, "de")
          .when(fr >= es, "fr").otherwise("es"))
      .select("doc_id", "lang", "pred_lang", "hits_en", "hits_de", "hits_fr", "hits_es")
  }

  /** Shared DuckDB CTE for the per-doc language scores + argmax — the ONE
    * definition [[langIdSql]] and [[langConfusionSql]] both build on
    * (the SQL twin of [[langScoredFrame]]), so the tie-break preference
    * order can never drift between the per-doc report and the rollup. */
  private val langScoredSqlCte: String = {
    val hits = stopwords.map { case (l, ws) =>
      val set = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(t, x -> x IN ($set))) AS hits_$l"
    }.mkString(",\n       ")
    s"""lsc AS (
       |SELECT doc_id, lang, CASE
       |         WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
       |         WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
       |         WHEN hits_fr >= hits_es THEN 'fr' ELSE 'es' END AS pred_lang,
       |       hits_en, hits_de, hits_fr, hits_es
       |FROM (SELECT doc_id, lang,
       |       $hits
       |      FROM (SELECT doc_id, lang,
       |                   list_filter(string_split_regex(lower(text), '\\W+'),
       |                               x -> length(x) > 0) AS t
       |            FROM documents)))""".stripMargin
  }

  val langIdSql: String =
    s"""WITH $langScoredSqlCte
       |SELECT doc_id, lang, pred_lang, hits_en, hits_de, hits_fr, hits_es
       |FROM lsc ORDER BY doc_id""".stripMargin

  /** Confusion rollup of [[langId]]: generator label × predicted
    * language with doc counts — the eval readout that says whether the
    * classifier (or the labels) can be trusted before `lang` gates any
    * filtering decision. Folds the per-doc frame to ≤|langs|² rows; the
    * argmax inside langId is already deterministic, so the rollup is
    * exact. */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame =
    langScoredFrame(spark, sfDir)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred_lang")

  val langConfusionSql: String =
    s"""WITH $langScoredSqlCte
       |SELECT lang, pred_lang, count(*) AS n_docs
       |FROM lsc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // Quality scoring
  // --------------------------------------------------------------------

  /** Length/punctuation/stopword quality heuristics → score ∈ [0,1] →
    * {low, medium, high}. Ratios are int/int double divisions (identical
    * across engines); the weighted sum is the same literal expression on
    * both sides, so even the bucket comparisons agree exactly. */
  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    qualityScoredFrame(Tables.documents(spark, sfDir))
      .select("doc_id", "n_chars", "n_tokens", "n_distinct_tokens",
        "avg_token_len", "punct_ratio", "stopword_ratio", "type_token_ratio",
        "quality_score", "quality_bucket")
      .orderBy("doc_id")

  /** The per-doc quality columns without the output projection/sort —
    * shared with [[Dedup.dedupCanonical]], which ranks cluster members by
    * `quality_score` (column pruning drops the rest there). */
  private[queries] def qualityScoredFrame(docs: DataFrame): DataFrame = {
    val enSet = stopwords.head._2
    docs
      // source rides along for the per-source consumers
      // (qualityPercentileGate); Catalyst prunes it everywhere else
      .select(col("doc_id"), col("source"), col("text"), toks(col("text")).as("t"))
      .withColumn("n_chars", length(col("text")))
      .withColumn("n_tokens", size(col("t")))
      .withColumn("n_distinct_tokens", size(array_distinct(col("t"))))
      .withColumn("avg_token_len",
        r4(aggregate(col("t"), lit(0L), (a, x) => a + length(x)).cast("double")
          / greatest(col("n_tokens"), lit(1))))
      .withColumn("punct_ratio",
        r4(size(split(col("text"), "[^\\w\\s]")).minus(1).cast("double")
          / greatest(col("n_chars"), lit(1))))
      .withColumn("stopword_ratio",
        r4(size(filter(col("t"), x =>
          array_contains(array(enSet.map(lit): _*), x))).cast("double")
          / greatest(col("n_tokens"), lit(1))))
      .withColumn("type_token_ratio",
        r4(col("n_distinct_tokens").cast("double")
          / greatest(col("n_tokens"), lit(1))))
      .withColumn("quality_score",
        r4(lit(0.3) * least(col("n_tokens").cast("double") / 50, lit(1.0))
          + lit(0.3) * col("type_token_ratio")
          + lit(0.2) * col("stopword_ratio")
          + lit(0.2) * (lit(1.0) - least(col("punct_ratio") * 10, lit(1.0)))))
      .withColumn("quality_bucket",
        when(col("quality_score") >= 0.6, "high")
          .when(col("quality_score") >= 0.4, "medium").otherwise("low"))
  }

  /** Shared DuckDB CTE for the per-doc quality columns — the SQL twin of
    * [[qualityScoredFrame]], and the ONE place the score formula lives on
    * the oracle side: [[textQualitySql]] and [[qualityPercentileGateSql]]
    * both build on it, so a weight tweak can never make the gate rank by
    * a different score than text_quality reports. */
  private val qualityScoredSqlCte: String = {
    val set = stopwords.head._2.map(w => s"'$w'").mkString(", ")
    val score = r4Sql("""0.3 * least(CAST(n_tokens AS DOUBLE) / 50, 1.0)
             + 0.3 * type_token_ratio
             + 0.2 * stopword_ratio
             + 0.2 * (1.0 - least(punct_ratio * 10, 1.0))""")
    s"""qsc AS (
       |SELECT doc_id, source, n_chars, n_tokens, n_distinct_tokens, avg_token_len,
       |       punct_ratio, stopword_ratio, type_token_ratio,
       |       $score AS quality_score,
       |       CASE WHEN $score >= 0.6 THEN 'high'
       |            WHEN $score >= 0.4 THEN 'medium'
       |            ELSE 'low' END AS quality_bucket
       |FROM (
       |  SELECT doc_id, source, n_chars, n_tokens, n_distinct_tokens, avg_token_len, punct_ratio,
       |         ${r4Sql(s"CAST(len(list_filter(t, x -> x IN ($set))) AS DOUBLE) / greatest(n_tokens, 1)")} AS stopword_ratio,
       |         ${r4Sql("CAST(n_distinct_tokens AS DOUBLE) / greatest(n_tokens, 1)")} AS type_token_ratio
       |  FROM (
       |    SELECT doc_id, source, t, length(text) AS n_chars, len(t) AS n_tokens,
       |           len(list_distinct(t)) AS n_distinct_tokens,
       |           ${r4Sql("CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / greatest(len(t), 1)")} AS avg_token_len,
       |           ${r4Sql("CAST(len(string_split_regex(text, '[^\\w\\s]')) - 1 AS DOUBLE) / greatest(length(text), 1)")} AS punct_ratio
       |    FROM (SELECT doc_id, source, text,
       |                 list_filter(string_split_regex(lower(text), '\\W+'),
       |                             x -> length(x) > 0) AS t
       |          FROM documents))))""".stripMargin
  }

  val textQualitySql: String =
    s"""WITH $qualityScoredSqlCte
       |SELECT doc_id, n_chars, n_tokens, n_distinct_tokens, avg_token_len,
       |       punct_ratio, stopword_ratio, type_token_ratio,
       |       quality_score, quality_bucket
       |FROM qsc ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Relative (percentile) quality gate
  // --------------------------------------------------------------------

  private val GateDropPct = 0.25

  /** Relative quality gate: drop each source's bottom quartile by
    * quality score instead of applying one absolute threshold — the
    * filter that keeps a clean source from swamping a noisy one (an
    * absolute cut like [[qualityGate]]'s would pass ~all of the former
    * and gut the latter; a per-source percentile removes the same
    * fraction everywhere, preserving the mixture).
    *
    * percent_rank = (rank−1)/(n−1) is an exact integer ratio over the
    * already-4dp-rounded score, so both engines compute identical ranks
    * and identical doubles — ties share a rank and therefore share a
    * keep/drop decision (no arbitrary tie-break drops among equals).
    *
    * NOT a window: `source` is low-cardinality, so percent_rank() over
    * (PARTITION BY source) would sort the whole corpus in ≤|sources|
    * tasks — the one plan shape that cannot scale out. Instead the 4dp
    * quantisation is the scale lever: a score has ≤10⁴+1 distinct
    * values, so the rank distribution is a bounded (source, score)
    * histogram — one map-side-combined agg, a window over THAT (tiny)
    * frame for the cumulative count-below, and a broadcast join back.
    * The corpus itself never shuffles at all; rank-below/(n−1) equals
    * percent_rank exactly (rank of a tied row = 1 + count below it). */
  def qualityPercentileGate(spark: SparkSession, sfDir: String,
                            dropPct: Double = GateDropPct): DataFrame = {
    require(dropPct >= 0 && dropPct < 1, s"need 0 <= dropPct < 1, got $dropPct")
    import org.apache.spark.sql.expressions.Window
    // 3 narrow columns — cached so the heavy quality kernel runs ONCE
    // (the histogram branch and the probe side would each re-run it:
    // measured 61 s vs 16 s at 500k docs). This IS a corpus-sized cache,
    // but a ~24 B/row projection of it: storage is evictable under
    // pressure (recompute, not failure), and the suite harnesses clear
    // caches between queries so it never outlives its query
    val scored = qualityScoredFrame(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("source"), col("quality_score"))
      .cache()
    val w = Window.partitionBy("source").orderBy(col("quality_score").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = scored.groupBy("source", "quality_score")
      .agg(count(lit(1)).as("n_at"))
      .withColumn("below", coalesce(sum("n_at").over(w), lit(0L)))
      .withColumn("n", sum("n_at").over(Window.partitionBy("source")))
      .select(col("source"), col("quality_score"),
        when(col("n") > 1,
          col("below").cast("double") / (col("n") - 1))
          .otherwise(lit(0.0)).as("pct_rank"),
        col("n"))
    scored.join(broadcast(hist), Seq("source", "quality_score"))
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("pct_rank"),
        // a singleton source is its own best doc — never dropped (its
        // pct_rank is 0 on both engines, below any positive dropPct)
        (col("pct_rank") >= dropPct || col("n") === 1).as("keep"))
      .orderBy("doc_id")
  }

  val qualityPercentileGateSql: String =
    s"""WITH $qualityScoredSqlCte
       |SELECT doc_id, source, quality_score,
       |       percent_rank() OVER (PARTITION BY source ORDER BY quality_score) AS pct_rank,
       |       percent_rank() OVER (PARTITION BY source ORDER BY quality_score)
       |         >= $GateDropPct
       |         OR count(*) OVER (PARTITION BY source) = 1 AS keep
       |FROM qsc ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Repetition signals + composite quality gate
  // --------------------------------------------------------------------

  /** Tokens + bigram array + bigram-duplication fraction — the shared
    * per-doc base of [[repetitionScore]] and [[qualityGate]]. Bigram
    * construction is the same zip-with-tail shape as the `bigrams` query
    * (no window shuffle); `dup_bigram_frac` = 1 − distinct/total is the
    * Gopher-style "duplicate n-gram fraction" repetition signal. */
  // private[queries] + text retained (r14): [[Dedup.pipelineFunnel]]
  // reads this directly so its four stages share ONE tokenize scan
  private[queries] def repetitionBaseFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), toks(col("text")).as("t"))
      .withColumn("bg", zip_with(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b)))
      .select(col("doc_id"), col("text"), col("t"),
        size(col("t")).as("n_tokens"),
        Det.r(when(size(col("bg")) > 0,
          lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg")))
          .otherwise(lit(0.0)), 6).as("dup_bigram_frac"))

  private[queries] val repetitionBaseSqlCte: String =
    """rb AS (
      |  SELECT doc_id, t, len(t) AS n_tokens,
      |         CAST(floor((CASE WHEN len(bg) > 0
      |                          THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
      |                          ELSE 0.0 END) * 1000000 + 0.5) AS DOUBLE) / 1000000 AS dup_bigram_frac
      |  FROM (SELECT doc_id, t,
      |               list_transform(range(1, greatest(len(t), 1)),
      |                              i -> t[i] || ' ' || t[i+1]) AS bg
      |        FROM (SELECT doc_id,
      |                     list_filter(string_split_regex(lower(text), '\W+'),
      |                                 x -> length(x) > 0) AS t
      |              FROM documents)))""".stripMargin

  /** Per-doc repetition metrics (the quality signals a pretraining
    * pipeline filters on): duplicate-bigram fraction and top-token mass
    * (most frequent token's share of the doc). All three metrics are
    * per-doc local, so a single `mapPartitions` kernel computes them in
    * ONE pass over one scan — the explode→agg→join alternative reads the
    * text column twice and shuffles twice for what is embarrassingly
    * parallel work. Rounding is the exact Det.r arithmetic
    * (floor(x·10⁶+0.5)/10⁶ on identical IEEE inputs). */
  def repetitionScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = text.toLowerCase(java.util.Locale.ROOT)
            .split("\\W+").filter(_.nonEmpty)
          val n = toks.length
          val counts = new java.util.HashMap[String, Int]()
          var topCnt = 0
          var i = 0
          while (i < n) {
            val c = counts.merge(toks(i), 1, Integer.sum)
            if (c > topCnt) topCnt = c
            i += 1
          }
          val nBg = math.max(n - 1, 0)
          val distinctBg = new java.util.HashSet[String]()
          i = 0
          while (i < nBg) { distinctBg.add(toks(i) + " " + toks(i + 1)); i += 1 }
          def r6(x: Double) = math.floor(x * 1000000 + 0.5) / 1000000
          val dupFrac =
            if (nBg > 0) r6(1.0 - distinctBg.size.toDouble / nBg) else 0.0
          (id, n, dupFrac, topCnt.toLong,
            r6(topCnt.toDouble / math.max(n, 1)))
        }
      }
      .toDF("doc_id", "n_tokens", "dup_bigram_frac", "top_token_cnt", "top_token_frac")
      .orderBy("doc_id")
  }

  val repetitionScoreSql: String =
    s"""WITH $repetitionBaseSqlCte,
       |tc AS (SELECT doc_id, max(c) AS top_token_cnt
       |       FROM (SELECT doc_id, tok, count(*) AS c
       |             FROM (SELECT doc_id, unnest(t) AS tok FROM rb)
       |             GROUP BY doc_id, tok)
       |       GROUP BY doc_id)
       |SELECT rb.doc_id, n_tokens, dup_bigram_frac,
       |       coalesce(top_token_cnt, 0) AS top_token_cnt,
       |       ${Det.rSql("CAST(coalesce(top_token_cnt, 0) AS DOUBLE) / greatest(n_tokens, 1)", 6)} AS top_token_frac
       |FROM rb LEFT JOIN tc ON rb.doc_id = tc.doc_id
       |ORDER BY rb.doc_id""".stripMargin

  /** Composite quality gate — the keep/drop decision a training-data
    * pipeline applies before tokenization, with the REASON recorded (what
    * production filters log for ablation). Rules in priority order:
    * too_short (< [[QualityMinTokens]] tokens), repetitive (dup-bigram
    * fraction > [[QualityMaxDupFrac]], ~p90 of this corpus), else ok.
    * Thresholds compare the 6-dp-rounded fraction, computed identically
    * in both engines, so the boundary is deterministic. One scan, no
    * shuffle except the output sort. */
  def qualityGate(spark: SparkSession, sfDir: String,
                  minTokens: Int = QualityMinTokens,
                  maxDupFrac: Double = QualityMaxDupFrac): DataFrame =
    qualityGateFrame(Tables.documents(spark, sfDir), minTokens, maxDupFrac)
      .orderBy("doc_id")

  /** The quality gate's default thresholds: every Spark form and every
    * SQL twin of the gate reads these two. */
  final val QualityMinTokens = 20
  final val QualityMaxDupFrac = 0.05

  /** The gate's reason over [[repetitionBaseFrame]]'s columns. */
  private def qualityReason(minTokens: Int, maxDupFrac: Double): Column =
    when(col("n_tokens") < minTokens, "too_short")
      .when(col("dup_bigram_frac") > maxDupFrac, "repetitive")
      .otherwise("ok")

  /** The gate's keep column over [[repetitionBaseFrame]]'s columns. */
  private[queries] def qualityKeep(minTokens: Int = QualityMinTokens,
                                   maxDupFrac: Double = QualityMaxDupFrac): Column =
    qualityReason(minTokens, maxDupFrac) === "ok"

  /** Gate as a frame-in/frame-out transform: stateless narrow column
    * math, so the SAME code runs over `readStream` unchanged (asserted in
    * StreamingSpec) — filter documents as they arrive instead of in a
    * nightly batch. */
  def qualityGateFrame(docs: DataFrame, minTokens: Int = QualityMinTokens,
                       maxDupFrac: Double = QualityMaxDupFrac): DataFrame =
    repetitionBaseFrame(docs)
      .select(col("doc_id"), col("n_tokens"), col("dup_bigram_frac"),
        qualityKeep(minTokens, maxDupFrac).as("keep"),
        qualityReason(minTokens, maxDupFrac).as("reason"))

  val qualityGateSql: String =
    s"""WITH $repetitionBaseSqlCte
       |SELECT doc_id, n_tokens, dup_bigram_frac,
       |       (CASE WHEN n_tokens < $QualityMinTokens THEN 'too_short'
       |             WHEN dup_bigram_frac > $QualityMaxDupFrac THEN 'repetitive'
       |             ELSE 'ok' END) = 'ok' AS keep,
       |       CASE WHEN n_tokens < $QualityMinTokens THEN 'too_short'
       |            WHEN dup_bigram_frac > $QualityMaxDupFrac THEN 'repetitive'
       |            ELSE 'ok' END AS reason
       |FROM rb
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // End-of-pipeline export (gate → split → partitioned sink → manifest)
  // --------------------------------------------------------------------

  /** The pipeline's terminal materialization: gate-surviving docs land in
    * a split-partitioned parquet dataset, and the query returns the
    * read-back MANIFEST (per-split doc/token totals + id range) — so the
    * oracle gate covers the composed gate→split→write→read round trip,
    * not just each stage in isolation (the F8/F9 story at pipeline
    * level, the way wordcount_tsv covers the raw text sink).
    *
    * `partitionBy(split)` is the layout decision that matters at 100 TB:
    * a training run reads ONLY its split's directories (partition
    * pruning at the source), and the 3-way split keys keep file counts
    * sane. The write is session-keyed like the other sink round-trips
    * (no cross-run collisions); the manifest agg is one shuffle over the
    * read-back. */
  def pipelineExport(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Substrate.sessionDir(spark, "graft_export_", sfDir)
    val b = Temporal.bucketCol(col("doc_id"))
    val kept = qualityGateFrame(Tables.documents(spark, sfDir))
      .filter(col("keep"))
      .withColumn("split",
        when(b < 5, "test").when(b < 10, "val").otherwise("train"))
      .select("doc_id", "n_tokens", "split")
    kept.write.mode("overwrite").partitionBy("split").parquet(out)
    // explicit schema: a fully-gated corpus writes zero files and schema
    // inference would throw instead of returning the empty manifest
    spark.read.schema(kept.schema).parquet(out)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("split")
  }

  val pipelineExportSql: String =
    s"""WITH $repetitionBaseSqlCte,
       |kept AS (
       |  SELECT doc_id, n_tokens,
       |         CASE WHEN ${Temporal.bucketSql("doc_id")} < 5 THEN 'test'
       |              WHEN ${Temporal.bucketSql("doc_id")} < 10 THEN 'val'
       |              ELSE 'train' END AS split
       |  FROM rb
       |  WHERE NOT (n_tokens < $QualityMinTokens OR dup_bigram_frac > $QualityMaxDupFrac))
       |SELECT split, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM kept GROUP BY split ORDER BY split""".stripMargin

  // --------------------------------------------------------------------
  // Sequence packing (fixed token budget)
  // --------------------------------------------------------------------

  private val PackBudget = 256      // tokens per training sequence
  private val PackShards = 32       // shard-count FLOOR (and the fixture-scale value)
  private val PackDocsPerShard = 4096L  // derivation quantum (see derivedPackShards)
  private val PackShardsCap = 65536L    // task-count ceiling

  /** Shard count DERIVED from corpus size — the same move as the cosine
    * grid's B derivation (`Dedup.embeddingCosineDups`): a hardcoded 32
    * would cap the packer at 32 tasks forever and grow one shard's
    * (doc_id, n_tokens) state linearly with the corpus. Parallelism, not
    * memory, is the binding constraint (shard state is 12 B/doc — even a
    * 10⁶-doc shard is 12 MB), so the quantum is small: one shard per
    * 4096 docs keeps task counts tracking corpus size (250k docs → 62
    * shards, 10⁸ docs → 24k shards) up to a 65536-task cap, where
    * per-shard state at 10⁹ docs is still only ~180 KB. The floor keeps
    * small corpora at exactly 32 — the fixture-scale layout, so the
    * DuckDB oracle (which bakes in 32) stays byte-identical. */
  private[graft] def derivedPackShards(nDocs: Long): Int =
    math.min(PackShardsCap,
      math.max(PackShards.toLong,
        (nDocs + PackDocsPerShard - 1) / PackDocsPerShard)).toInt

  /** Sequence packing — the batching step between filtering and training:
    * greedily pack documents (in doc_id order) into fixed-budget token
    * sequences. Packing is inherently sequential, so it runs SHARDED, the
    * way production packers do: shard = doc_id % shards (a pure function,
    * so the layout is deterministic and engine-reproducible — unlike
    * range-partition boundaries, which depend on sampling), greedy
    * first-fit within each shard's doc_id order. The shard count is
    * derived from the corpus size ([[derivedPackShards]]; one
    * metadata-cheap parquet row-count action) unless pinned via the args
    * channel. Each group is one `flatMapGroups` stream; docs longer than
    * the budget get a sequence of their own. */
  /** Pure greedy first-fit fold over one shard's (doc_id, n_tokens) in
    * doc_id order → (doc_id, seq, pos, n_tokens). Shared by the query and
    * PropertiesSpec. */
  private[graft] def packGreedy(docs: Array[(Long, Int)],
                                budget: Int): Iterator[(Long, Int, Int, Int)] = {
    var seq = 0; var fill = 0; var pos = 0
    var first = true
    docs.sortBy(_._1).iterator.map { case (id, n) =>
      if (first) { fill = n; first = false }
      else if (fill + n <= budget) { fill += n; pos += 1 }
      else { seq += 1; fill = n; pos = 0 }
      (id, seq, pos, n)
    }
  }

  def sequencePack(spark: SparkSession, sfDir: String,
                   budget: Int = PackBudget, shards: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val nShards =
      if (shards > 0) shards
      else derivedPackShards(Tables.documents(spark, sfDir).count())
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(toks(col("text"))).as("n_tokens"),
        (col("doc_id") % nShards).as("shard"))
      .as[(Long, Int, Long)]
      .groupByKey(_._3)
      .flatMapGroups { (shard, it) =>
        packGreedy(it.map(t => (t._1, t._2)).toArray, budget)
          .map { case (id, seq, pos, n) => (id, shard, seq, pos, n) }
      }
      .toDF("doc_id", "shard", "seq_in_shard", "pos_in_seq", "n_tokens")
      .orderBy("doc_id")
  }

  /** Oracle: the same greedy fold per shard as a recursive CTE walking
    * each shard's doc chain in order (chain depth = shard size — fine at
    * oracle scale). Bakes in shards = 32, which [[derivedPackShards]]
    * returns (the floor) for any corpus ≤ 32·4096 docs — all fixture
    * scales. */
  val sequencePackSql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, doc_id % $PackShards AS shard,
       |         len(list_filter(string_split_regex(lower(text), '\\W+'),
       |                         x -> length(x) > 0)) AS n_tokens,
       |         row_number() OVER (PARTITION BY doc_id % $PackShards
       |                            ORDER BY doc_id) AS rn
       |  FROM documents),
       |pack(shard, rn, doc_id, n_tokens, seq, fill, pos) AS (
       |  SELECT shard, rn, doc_id, n_tokens, 0, n_tokens, 0 FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
       |         CASE WHEN p.fill + d.n_tokens <= $PackBudget THEN p.seq ELSE p.seq + 1 END,
       |         CASE WHEN p.fill + d.n_tokens <= $PackBudget THEN p.fill + d.n_tokens ELSE d.n_tokens END,
       |         CASE WHEN p.fill + d.n_tokens <= $PackBudget THEN p.pos + 1 ELSE 0 END
       |  FROM d JOIN pack p ON d.shard = p.shard AND d.rn = p.rn + 1)
       |SELECT doc_id, shard, seq AS seq_in_shard, pos AS pos_in_seq, n_tokens
       |FROM pack ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Token counting
  // --------------------------------------------------------------------

  /** Whitespace tokens vs BPE-ish regex tokens (letter runs | digit runs |
    * single non-space symbol — the GPT-2-style pre-tokenizer shape). */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), t => length(t) > 0)).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
          .as("n_bpe_tokens"),
        size(array_distinct(toks(col("text")))).as("n_vocab"),
        length(col("text")).as("n_chars"))
      .orderBy("doc_id")

  val tokenCountsSql: String =
    """SELECT doc_id,
      |       len(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS n_ws_tokens,
      |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS n_bpe_tokens,
      |       len(list_distinct(list_filter(string_split_regex(lower(text), '\W+'),
      |                                     x -> length(x) > 0))) AS n_vocab,
      |       length(text) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Winnowing fingerprints (rolling hash)
  // --------------------------------------------------------------------

  private val K = 8   // char k-gram size
  private val W = 4   // winnowing window
  private val B = 31L // polynomial base; max |h| ≤ 0x10FFFF·Σ31ʲ ≈ 3.2e16,
                      // rolling step ≤ ·31 ≈ 9.8e17 — exact i64 even for
                      // the largest Unicode code point

  /** Document fingerprinting à la winnowing (MOSS): polynomial rolling
    * hash over 8-char k-grams of the normalized text, then per-window
    * minima, deduplicated. Output: fingerprint count + min/max as a
    * compact identity summary (two docs sharing n-gram content share
    * fingerprints).
    *
    * The hash/winnow pass is a JIT'd `mapPartitions` kernel — a TRUE
    * rolling hash, O(1) per position (h' = (h − c·Bᵏ⁻¹)·B + c_new, exact
    * int64: |h| ≤ 7e12, ·B ≤ 2.3e14). The previous Column formulation ran
    * interpreted `transform` lambdas with 8 `substring` calls per k-gram
    * plus a `slice` allocation per window — 26 s of the sf0.1 bench; the
    * kernel does the identical arithmetic in ~0.4 s. Same justification
    * as the shingle/simhash/LSH kernels: hot per-char inner loops are
    * where mapPartitions beats interpreted higher-order functions. */
  /** Rolling k-gram hashes of a normalized string (exact int64, O(1) per
    * position: h' = (h − c·Bᵏ⁻¹)·B + c_new). Iterates CODE POINTS, not
    * UTF-16 code units: DuckDB's `substr`/`ascii` are code-point-based, so
    * a surrogate-pair character (emoji, rare CJK) must count as ONE k-gram
    * position with its full code-point value on both engines — charAt
    * iteration would split it into two bogus positions and diverge off the
    * BMP. Property-tested against the direct polynomial in
    * PropertiesSpec. */
  private[graft] def kgramHashes(ns: String): Array[Long] = {
    val cps = ns.codePoints().toArray
    var topPow = 1L
    var j = 1
    while (j < K) { topPow *= B; j += 1 }   // B^(K-1)
    val nH = if (cps.length >= K) cps.length - K + 1 else 0
    val hs = new Array[Long](nH)
    if (nH > 0) {
      var h = 0L
      var i = 0
      while (i < K) { h = h * B + cps(i); i += 1 }
      hs(0) = h
      i = 1
      while (i < nH) {
        h = (h - cps(i - 1).toLong * topPow) * B + cps(i + K - 1)
        hs(i) = h
        i += 1
      }
    }
    hs
  }

  /** Winnowing: distinct per-window minima (whole array if < W hashes),
    * in first-occurrence order. */
  private def winnowMins(hs: Array[Long]): java.util.LinkedHashSet[java.lang.Long] = {
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (hs.length >= W) {
      var wi = 0
      while (wi <= hs.length - W) {
        var m = hs(wi)
        var x = 1
        while (x < W) { if (hs(wi + x) < m) m = hs(wi + x); x += 1 }
        seen.add(m)
        wi += 1
      }
    } else {
      var x = 0
      while (x < hs.length) { seen.add(hs(x)); x += 1 }
    }
    seen
  }

  private def normalized(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\W+", " ")).as("ns"))
      .as[(Long, String)]
  }

  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    normalized(spark, sfDir)
      .mapPartitions { it =>
        it.map { case (id, ns) =>
          val hs = kgramHashes(ns)
          val fps = winnowMins(hs)
          var fpMin = Long.MaxValue; var fpMax = Long.MinValue
          fps.forEach { v =>
            if (v < fpMin) fpMin = v
            if (v > fpMax) fpMax = v
          }
          (id, hs.length, fps.size,
            if (fps.size > 0) Some(fpMin) else None,
            if (fps.size > 0) Some(fpMax) else None)
        }
      }
      .toDF("doc_id", "n_kgrams", "n_fingerprints", "fp_min", "fp_max")
      .orderBy("doc_id")
  }

  val docFingerprintSql: String = {
    val pows = (0 until K).map(j => java.lang.Math.pow(B.toDouble, (K - 1 - j).toDouble).toLong)
    val terms = (0 until K).map(j =>
      s"CAST(ascii(substr(ns, i+$j, 1)) AS BIGINT) * ${pows(j)}").mkString(" + ")
    s"""SELECT doc_id, len(hs) AS n_kgrams, len(fps) AS n_fingerprints,
       |       list_min(fps) AS fp_min, list_max(fps) AS fp_max
       |FROM (
       |  SELECT doc_id, hs,
       |         CASE WHEN len(hs) >= $W
       |              THEN list_distinct(list_transform(range(1, len(hs)-${W - 2}),
       |                                 w -> list_min(hs[w:w+${W - 1}])))
       |              ELSE list_distinct(hs) END AS fps
       |  FROM (
       |    SELECT doc_id,
       |           CASE WHEN length(ns) >= $K
       |                THEN list_transform(range(1, length(ns)-${K - 2}),
       |                                    i -> $terms)
       |                ELSE CAST([] AS BIGINT[]) END AS hs
       |    FROM (SELECT doc_id,
       |                 trim(regexp_replace(lower(text), '\\W+', ' ', 'g')) AS ns
       |          FROM documents)))
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // Corpus stats (dataset-card aggregates)
  // --------------------------------------------------------------------

  /** Per-(lang, source) corpus composition — the dataset-card numbers
    * every training corpus publishes: doc/token/char totals and each
    * cell's share of the corpus. One grouped agg plus a broadcast one-row
    * total (the same sanctioned scalar-agg funnel as TF-IDF's doc count:
    * the SinglePartition exchange moves one pre-aggregated row per
    * partition, never data). */
  def corpusStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"),
        size(toks(col("text"))).as("n_tokens"), length(col("text")).as("n_chars"))
    val per = docs.groupBy("lang", "source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("total_tokens"),
      sum("n_chars").as("total_chars"))
    val tot = docs.agg(count(lit(1)).as("corpus_docs"))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"),
        col("total_tokens"), col("total_chars"),
        Det.r(col("n_docs").cast("double") / col("corpus_docs"), 6).as("doc_share"))
      .orderBy("lang", "source")
  }

  val corpusStatsSql: String =
    s"""WITH d AS (SELECT lang, source,
       |                  len(list_filter(string_split_regex(lower(text), '\\W+'),
       |                                  x -> length(x) > 0)) AS n_tokens,
       |                  length(text) AS n_chars
       |           FROM documents),
       |per AS (SELECT lang, source, count(*) AS n_docs,
       |               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |               CAST(sum(n_chars) AS BIGINT) AS total_chars
       |        FROM d GROUP BY lang, source),
       |tot AS (SELECT count(*) AS corpus_docs FROM d)
       |SELECT lang, source, n_docs, total_tokens, total_chars,
       |       ${Det.rSql("CAST(n_docs AS DOUBLE) / corpus_docs", 6)} AS doc_share
       |FROM per CROSS JOIN tot
       |ORDER BY lang, source""".stripMargin

  // --------------------------------------------------------------------
  // Temperature-based mixture weights
  // --------------------------------------------------------------------

  private val MixAlpha = 0.7

  /** Temperature-based source mixing — the sampling weights a training
    * run draws each source with: raw token share p_s is flattened to
    * q_s ∝ p_s^α (α < 1 upsamples rare sources, the multilingual/
    * data-mixing standard), and boost = q_s/p_s is the per-source
    * sampling factor. Two grouped aggs + two broadcast one-row totals —
    * output is |sources| rows at any corpus size.
    *
    * Determinism: p_s is an exact BIGINT ratio; p_s^α is integerised to
    * micros before the normalizing sum (integer sum — order-independent,
    * same discipline as [[docSurprisal]]), so both engines normalize by
    * the identical integer and every output double is a pure function of
    * identical inputs. */
  def mixtureWeights(spark: SparkSession, sfDir: String,
                     alpha: Double = MixAlpha): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"need 0 < alpha <= 1, got $alpha")
    // |sources| rows — cached so the corpus scan+agg runs ONCE; the two
    // one-row totals and the final projection all fan out from it
    val per = Tables.documents(spark, sfDir)
      .select(col("source"), size(toks(col("text"))).as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .cache()
    val tot = per.agg(sum("n_tokens").as("total_tokens"))
    val shared = per.crossJoin(broadcast(tot))
      .withColumn("share_raw",
        col("n_tokens").cast("double") / col("total_tokens"))
      .withColumn("pow_micros",
        floor(pow(col("share_raw"), alpha) * 1e6 + 0.5).cast("long"))
    val powTot = shared.agg(sum("pow_micros").as("pow_total"))
    shared.crossJoin(broadcast(powTot))
      .withColumn("weight_raw",
        col("pow_micros").cast("double") / col("pow_total"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        Det.r(col("share_raw"), 6).as("share"),
        Det.r(col("weight_raw"), 6).as("weight"),
        Det.r(col("weight_raw") / col("share_raw"), 6).as("boost"))
      .orderBy("source")
  }

  val mixtureWeightsSql: String =
    s"""WITH d AS (SELECT source,
       |                  len(list_filter(string_split_regex(lower(text), '\\W+'),
       |                                  x -> length(x) > 0)) AS n_tokens
       |           FROM documents),
       |per AS (SELECT source, count(*) AS n_docs,
       |               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |        FROM d GROUP BY source),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per),
       |sh AS (SELECT source, n_docs, n_tokens,
       |              CAST(n_tokens AS DOUBLE) / total_tokens AS share_raw,
       |              CAST(floor(pow(CAST(n_tokens AS DOUBLE) / total_tokens,
       |                             $MixAlpha) * 1e6 + 0.5) AS BIGINT) AS pow_micros
       |       FROM per CROSS JOIN tot),
       |pt AS (SELECT CAST(sum(pow_micros) AS BIGINT) AS pow_total FROM sh)
       |SELECT source, n_docs, n_tokens,
       |       ${Det.rSql("share_raw", 6)} AS share,
       |       ${Det.rSql("CAST(pow_micros AS DOUBLE) / pow_total", 6)} AS weight,
       |       ${Det.rSql("(CAST(pow_micros AS DOUBLE) / pow_total) / share_raw", 6)} AS boost
       |FROM sh CROSS JOIN pt
       |ORDER BY source""".stripMargin

  private val MixApplyRate = 0.5

  /** APPLY the [[mixtureWeights]]: downsample the corpus to ~`rate` of
    * its docs, reshaped toward the α-flattened mixture — each source
    * keeps docs at rate·boost (boost = q_s/p_s), so over-represented
    * sources thin out and rare sources keep (capped at 1.0: a filter
    * can't upsample — boosts above 1/rate need epoch repetition on the
    * training side, which is the standard split of responsibilities).
    * Selection is the md5-threshold rule (hash(doc_id) mod 10⁶ <
    * rate·boost·10⁶, both sides exact integers) — deterministic,
    * re-ingestion-stable, and consistent with split_assign's bucketing
    * so resampling never migrates docs across splits.
    *
    * One corpus scan joined to the broadcast |sources|-row rate frame;
    * output is the per-source audit (kept vs target). */
  def mixtureApply(spark: SparkSession, sfDir: String,
                   rate: Double = MixApplyRate): DataFrame = {
    require(rate > 0 && rate <= 1, s"need 0 < rate <= 1, got $rate")
    val rates = mixtureWeights(spark, sfDir)
      .select(col("source"),
        least(floor(lit(rate) * col("boost") * 1e6 + 0.5), lit(1000000.0))
          .cast("long").as("rate_micros"))
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000000L
    Tables.documents(spark, sfDir)
      .select(col("source"), h.as("h"))
      .join(broadcast(rates), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("h") < col("rate_micros")).cast("long")).as("n_kept"),
        max("rate_micros").as("rate_micros"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        Det.r(col("rate_micros").cast("double") / 1e6, 6).as("target_rate"))
      .orderBy("source")
  }

  val mixtureApplySql: String =
    s"""WITH mw AS ($mixtureWeightsSql),
       |r AS (SELECT source,
       |             CAST(least(floor($MixApplyRate * boost * 1e6 + 0.5), 1000000.0)
       |                  AS BIGINT) AS rate_micros
       |      FROM mw),
       |d AS (SELECT source,
       |             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |                  AS UBIGINT) AS BIGINT) % 1000000 AS h
       |      FROM documents)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN h < rate_micros THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       ${Det.rSql("CAST(rate_micros AS DOUBLE) / 1e6", 6)} AS target_rate
       |FROM d JOIN r USING (source)
       |GROUP BY source, rate_micros ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // Token-length histogram (dataset-card length distribution)
  // --------------------------------------------------------------------

  private val HistBinTokens = 64

  /** Per-source histogram of per-doc token counts in fixed 64-token bins
    * — the length-distribution panel of a dataset card (context-budget
    * planning and truncation-loss estimates read straight off it).
    *
    * Shape: per-doc codegen'd token count (no shuffle) → one grouped agg
    * on (source, bin). Output is |sources|·|occupied bins| rows at any
    * corpus size; the bin index is exact integer math (floor of an exact
    * small-int division — no width_bucket dialect variance), and the
    * within-source share divides two exact integers broadcast-joined
    * from a |sources|-row agg. */
  def tokenHistogram(spark: SparkSession, sfDir: String,
                     binTokens: Int = HistBinTokens): DataFrame = {
    require(binTokens > 0, s"binTokens must be positive, got $binTokens")
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), size(toks(col("text"))).as("n_tokens"))
    val binned = docs.withColumn("bin",
      floor(col("n_tokens").cast("double") / binTokens).cast("long"))
    val per = binned.groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"))
    val totals = binned.groupBy("source").agg(count(lit(1)).as("source_docs"))
    per.join(broadcast(totals), "source")
      .select(col("source"), col("bin"),
        (col("bin") * binTokens).as("lo_tokens"),
        (col("bin") * binTokens + (binTokens - 1)).as("hi_tokens"),
        col("n_docs"), col("min_tokens"), col("max_tokens"),
        Det.r(col("n_docs").cast("double") / col("source_docs"), 6).as("share"))
      .orderBy("source", "bin")
  }

  def tokenHistogramSqlFor(binTokens: Int): String =
    s"""WITH d AS (SELECT source,
       |                  len(list_filter(string_split_regex(lower(text), '\\W+'),
       |                                  x -> length(x) > 0)) AS n_tokens
       |           FROM documents),
       |b AS (SELECT source, n_tokens,
       |             CAST(floor(CAST(n_tokens AS DOUBLE) / $binTokens) AS BIGINT) AS bin
       |      FROM d),
       |per AS (SELECT source, bin, count(*) AS n_docs,
       |               CAST(min(n_tokens) AS INTEGER) AS min_tokens,
       |               CAST(max(n_tokens) AS INTEGER) AS max_tokens
       |        FROM b GROUP BY 1, 2),
       |tot AS (SELECT source, count(*) AS source_docs FROM b GROUP BY 1)
       |SELECT source, bin,
       |       bin * $binTokens AS lo_tokens,
       |       bin * $binTokens + ${binTokens - 1} AS hi_tokens,
       |       n_docs, min_tokens, max_tokens,
       |       ${Det.rSql("CAST(n_docs AS DOUBLE) / source_docs", 6)} AS share
       |FROM per JOIN tot USING (source)
       |ORDER BY source, bin""".stripMargin

  val tokenHistogramSql: String = tokenHistogramSqlFor(HistBinTokens)

  // --------------------------------------------------------------------
  // Per-source vocabulary divergence (mixture diagnostics)
  // --------------------------------------------------------------------

  /** KL(source ‖ corpus) over unigram distributions — the vocabulary-
    * drift readout of a mixture dashboard: a source whose token
    * distribution diverges from the corpus is another register, another
    * language, or template spam, and it's the number that says which
    * sources [[mixtureWeights]]' flattening actually moves.
    *
    * Shape: explode → one (source, tok) agg (cached — the corpus
    * marginal and the per-source totals both fold from it, the
    * vocab-sized frame, instead of rescanning the corpus), corpus
    * marginal via a second fold on tok, then an equi-join on tok and one
    * final |sources|-row agg. All joins are vocab-sized or broadcast.
    *
    * Determinism: both probabilities are single exact-int divisions;
    * the per-term contribution p_s·ln(p_s/p_c) is integerised to NANOS
    * (surprisal-weighted shares are ~1e-6..1e-2 — micros would quantise
    * real signal away) before the order-independent integer sum, the
    * [[docSurprisal]] discipline. */
  def sourceDivergence(spark: SparkSession, sfDir: String): DataFrame = {
    val st = Tables.documents(spark, sfDir)
      .select(col("source"), explode(toks(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      .cache()
    val corpus = st.groupBy("tok").agg(sum("cnt").as("ccnt"))
    val perSource = st.groupBy("source").agg(sum("cnt").as("stotal"))
    val total = corpus.agg(sum("ccnt").as("ctotal"))
    st.join(corpus, "tok")
      .join(broadcast(perSource), "source")
      .crossJoin(broadcast(total))
      .withColumn("ps", col("cnt").cast("double") / col("stotal"))
      .withColumn("pc", col("ccnt").cast("double") / col("ctotal"))
      .withColumn("contrib_nanos",
        floor(col("ps") * log(col("ps") / col("pc")) * 1e9 + 0.5).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        max("stotal").as("n_tokens"),
        sum("contrib_nanos").as("kl_nanos"))
      .withColumn("kl", Det.r(col("kl_nanos").cast("double") / 1e9, 6))
      .orderBy("source")
  }

  val sourceDivergenceSql: String =
    s"""WITH tk AS (
       |  SELECT source,
       |         unnest(list_filter(string_split_regex(lower(text), '\\W+'),
       |                            x -> length(x) > 0)) AS tok
       |  FROM documents),
       |st AS (SELECT source, tok, count(*) AS cnt FROM tk GROUP BY 1, 2),
       |corpus AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS ccnt FROM st GROUP BY 1),
       |per AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS stotal FROM st GROUP BY 1),
       |tot AS (SELECT CAST(sum(ccnt) AS BIGINT) AS ctotal FROM corpus),
       |c AS (SELECT st.source,
       |             CAST(floor((CAST(cnt AS DOUBLE) / stotal)
       |                        * ln((CAST(cnt AS DOUBLE) / stotal)
       |                             / (CAST(ccnt AS DOUBLE) / ctotal))
       |                        * 1e9 + 0.5) AS BIGINT) AS contrib_nanos,
       |             stotal
       |      FROM st JOIN corpus USING (tok) JOIN per ON st.source = per.source
       |      CROSS JOIN tot),
       |g AS (SELECT source, count(*) AS n_terms, max(stotal) AS n_tokens,
       |             CAST(sum(contrib_nanos) AS BIGINT) AS kl_nanos
       |      FROM c GROUP BY source)
       |SELECT source, n_terms, n_tokens, kl_nanos,
       |       ${Det.rSql("CAST(kl_nanos AS DOUBLE) / 1e9", 6)} AS kl
       |FROM g ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // Train/test contamination audit
  // --------------------------------------------------------------------

  private val ContamGram = 8   // 8-TOKEN n-grams (the eval-dedup standard)
  private val ContamMaxDf = 1000 // default boilerplate df cap (both engines)

  /** Exploded (doc_id, fingerprint) pairs: md5-derived int64 hashes of
    * distinct 8-token shingles. Token-level grams, not the winnowing
    * char-grams: char 8-grams span ~1.5 words and saturate on shared
    * vocabulary (measured 0.99 mean "contamination" on this corpus —
    * useless), while an 8-token verbatim run is real leakage evidence.
    * The hash is the engine-portable first-12-hex-of-md5 construction
    * shared with simhash. */
  private def tokenShinglePairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val toks = text.toLowerCase(java.util.Locale.ROOT)
            .split("\\W+").filter(_.nonEmpty)
          val seen = new java.util.LinkedHashSet[java.lang.Long]()
          var i = 0
          while (i + ContamGram - 1 < toks.length) {
            val sb = new java.lang.StringBuilder(toks(i))
            var j = 1
            while (j < ContamGram) { sb.append(' ').append(toks(i + j)); j += 1 }
            md.reset()
            val d = md.digest(sb.toString.getBytes("UTF-8"))
            var h = 0L
            var k = 0
            while (k < 6) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
            seen.add(h)
            i += 1
          }
          val out = new Array[(Long, Long)](seen.size)
          var o = 0
          seen.forEach { v => out(o) = (id, v); o += 1 }
          out.iterator
        }
      }.toDF("doc_id", "fp")
  }

  /** Train→test contamination audit: for each TEST-split document, how
    * much of its 8-token-shingle mass also appears verbatim in TRAIN-
    * split documents — the leakage check run before any eval is trusted.
    * The split is the same hash bucket as `split_assign` (shared Column),
    * so the audit and the assignment can never disagree. Shape: shingle-
    * hash equi-join (test side is ~5% of the corpus), then per-doc
    * distinct counts.
    *
    * FREQUENCY CAP (the 100 TB guard): a fingerprint present in more
    * than `maxDf` documents corpus-wide is boilerplate (license headers,
    * navigation chrome), not leakage evidence — and it is also the join
    * bomb: the test×train equi-join on one fp costs df_test·df_train
    * pairs, quadratic in the document frequency of a ubiquitous shingle.
    * Hot fingerprints are therefore dropped from BOTH join sides before
    * the join (the same move PPJoin makes with stop-shingles); under
    * Zipf the hot set is tiny, so it ships as a broadcast anti-join —
    * no extra shuffle of the big frame. The per-doc denominator `n_fps`
    * deliberately stays UNcapped: contamination reads as "fraction of
    * this test doc's shingle mass that verbatim-overlaps train", and a
    * doc made entirely of boilerplate should read 0 (clean), not 0/0.
    * The DuckDB oracle carries the SAME df>maxDf hot-set exclusion
    * (its `hot` CTE), so both engines verify the SHIPPED
    * capped semantics — not the uncapped special case a cool fixture
    * happens to coincide with. */
  def contaminationCheck(spark: SparkSession, sfDir: String,
                         maxDf: Int = ContamMaxDf): DataFrame = {
    // r14: write-once session sink instead of .cache() (the winnow /
    // shingle-sink economics): four consumers below (hot set, test
    // counts, test join side, train join side) would otherwise each
    // re-run the shingle+md5 kernel over the full corpus — three extra
    // 100 TB passes — and the sink additionally survives the
    // per-query cache clears a long-lived session performs, without
    // pinning corpus-sized executor memory
    val fp = Substrate.materialize(spark, "graft_contamfp_", sfDir)(
      tokenShinglePairs(spark, sfDir)
        .withColumn("bucket", Temporal.bucketCol(col("doc_id"))))
    val hotRaw = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("fp")
    // same size gate as winnowOverlap: the boilerplate set grows with the
    // corpus, so the broadcast hint must be earned, not assumed
    val hot = if (hotFitsBroadcast(spark, sfDir, maxDf)) broadcast(hotRaw)
              else hotRaw
    val testFp = fp.filter(col("bucket") < 5).select(col("doc_id"), col("fp"))
    val trainFp = fp.filter(col("bucket") >= 10)
      .select(col("doc_id").as("train_doc"), col("fp"))
    val nFps = testFp.groupBy("doc_id").agg(count(lit(1)).as("n_fps"))
    val coll = testFp.join(hot, Seq("fp"), "left_anti")
      .join(trainFp.join(hot, Seq("fp"), "left_anti"), "fp")
      .groupBy("doc_id").agg(
        countDistinct("fp").as("n_shared_fps"),
        countDistinct("train_doc").as("n_train_docs"))
    nFps.join(coll, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_fps"),
        coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        Det.r(coalesce(col("n_shared_fps"), lit(0L)).cast("double") / col("n_fps"), 6)
          .as("contamination"))
      .orderBy("doc_id")
  }

  val contaminationCheckSql: String = {
    val join8 = (0 until ContamGram).map {
      case 0 => "t[i]"
      case j => s"t[i+$j]"
    }.mkString(" || ' ' || ")
    s"""WITH sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, greatest(len(t)-${ContamGram - 2}, 1)),
       |                       i -> $join8)) AS sh
       |  FROM (SELECT doc_id,
       |               list_filter(string_split_regex(lower(text), '\\W+'),
       |                           x -> length(x) > 0) AS t
       |        FROM documents)),
       |fp AS (SELECT doc_id, ${Temporal.bucketSql("doc_id")} AS bucket,
       |              CAST(CAST('0x' || substr(md5(unnest(sh)), 1, 12) AS UBIGINT) AS BIGINT) AS fp
       |       FROM sh),
       |t AS (SELECT doc_id, fp FROM fp WHERE bucket < 5),
       |tr AS (SELECT doc_id AS train_doc, fp FROM fp WHERE bucket >= 10),
       |hot AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > $ContamMaxDf),
       |tc AS (SELECT doc_id, fp FROM t WHERE fp NOT IN (SELECT fp FROM hot)),
       |trc AS (SELECT train_doc, fp FROM tr WHERE fp NOT IN (SELECT fp FROM hot)),
       |nf AS (SELECT doc_id, count(DISTINCT fp) AS n_fps FROM t GROUP BY doc_id),
       |c AS (SELECT tc.doc_id, count(DISTINCT tc.fp) AS n_shared_fps,
       |             count(DISTINCT trc.train_doc) AS n_train_docs
       |      FROM tc JOIN trc ON tc.fp = trc.fp GROUP BY tc.doc_id)
       |SELECT nf.doc_id, n_fps,
       |       coalesce(n_shared_fps, 0) AS n_shared_fps,
       |       coalesce(n_train_docs, 0) AS n_train_docs,
       |       ${Det.rSql("CAST(coalesce(n_shared_fps, 0) AS DOUBLE) / n_fps", 6)} AS contamination
       |FROM nf LEFT JOIN c ON nf.doc_id = c.doc_id
       |ORDER BY nf.doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // Context-window chunking
  // --------------------------------------------------------------------

  private val ChunkBudget = 64
  private val ChunkOverlap = 16

  /** Context-window chunking — the step that turns filtered documents
    * into model-sized training windows: split each doc's token stream
    * into `budget`-token chunks whose starts advance by
    * stride = budget − overlap, so consecutive chunks share `overlap`
    * tokens of context. Chunk starts are 0, stride, 2·stride, … while
    * start < n − overlap (a final start inside the overlap tail would
    * yield a chunk fully contained in its predecessor); every doc with
    * ≥1 token yields ≥1 chunk, and the last chunk is the only one that
    * may be short.
    *
    * Pure per-doc kernel in codegen'd SQL functions (sequence →
    * posexplode → slice arithmetic): no shuffle before the final
    * ORDER BY, embarrassingly parallel at any corpus size — the chunk
    * stream's cost is O(total tokens), and output rows ≈ n_tokens /
    * stride per doc regardless of skew. */
  def docChunk(spark: SparkSession, sfDir: String,
               budget: Int = ChunkBudget, overlap: Int = ChunkOverlap): DataFrame =
    docChunkFrame(Tables.documents(spark, sfDir), budget, overlap)
      .orderBy("doc_id", "chunk_id")

  /** The chunking transform without the output sort — STATELESS, so it
    * runs unchanged on a streaming frame (chunk-on-ingest; StreamingSpec
    * proves streaming == batch the same way it does for the quality
    * gate). */
  private[graft] def docChunkFrame(docs: DataFrame,
                                   budget: Int = ChunkBudget,
                                   overlap: Int = ChunkOverlap): DataFrame = {
    require(budget > 0 && overlap >= 0 && overlap < budget,
      s"need 0 <= overlap < budget, got budget=$budget overlap=$overlap")
    val stride = budget - overlap
    docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"), col("n"),
        posexplode(sequence(lit(0),
          greatest(col("n") - overlap - 1, lit(0)), lit(stride))))
      .select(col("doc_id"), col("pos").as("chunk_id"),
        col("col").as("start"),
        least(lit(budget), col("n") - col("col")).as("n_chunk_tokens"),
        element_at(col("t"), col("col") + 1).as("first_tok"),
        element_at(col("t"),
          col("col") + least(lit(budget), col("n") - col("col"))).as("last_tok"))
  }

  /** Oracle: the same start arithmetic via the scalar list `range`
    * (exclusive end, hence the +1 vs Spark's inclusive `sequence`) —
    * DuckDB's table-function generate_series can't take lateral column
    * bounds. */
  val docChunkSql: String = {
    val stride = ChunkBudget - ChunkOverlap
    s"""WITH d AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '\\W+'),
       |                     x -> length(x) > 0) AS t
       |  FROM documents),
       |n AS (SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0),
       |g AS (SELECT doc_id, t, n,
       |             unnest(range(0, greatest(n - $ChunkOverlap - 1, 0) + 1, $stride)) AS g
       |      FROM n)
       |SELECT doc_id,
       |       CAST(g // $stride AS INT) AS chunk_id,
       |       CAST(g AS INT) AS start,
       |       CAST(least($ChunkBudget, n - g) AS INT) AS n_chunk_tokens,
       |       t[CAST(g + 1 AS INT)] AS first_tok,
       |       t[CAST(g + least($ChunkBudget, n - g) AS INT)] AS last_tok
       |FROM g ORDER BY doc_id, chunk_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // Unigram-LM surprisal (perplexity-proxy quality signal)
  // --------------------------------------------------------------------

  /** Per-doc cross-entropy under the corpus's own unigram LM — the
    * classic perplexity-proxy filter (a doc whose tokens are improbable
    * under the corpus distribution is boilerplate, noise, or another
    * language; CCNet/Gopher filter on exactly this signal, with a bigger
    * LM). Two passes over the source, the inherent LM shape: pass 1
    * builds the vocabulary counts (a groupBy whose result is vocab-sized,
    * auto-broadcast when small), pass 2 scores the token stream against
    * it — two cheap parquet scans beat caching a token stream larger
    * than the source at 100 TB.
    *
    * Determinism: per-token surprisal −ln(cnt/total) is integerised to
    * micros (floor(x·10⁶+0.5)) BEFORE summing — the integer sum is
    * order-independent and exact, the same discipline as money-in-cents
    * ([[Det]]). A libm 1-ulp disagreement between engines only matters
    * if some token's surprisal·10⁶ sits within ~10⁻⁹ of an integer —
    * probability ~10⁻⁹ per distinct vocab word. */
  def docSurprisal(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    // vocab-sized — cached so the LM pass runs once (its two consumers,
    // the total and the score join, would otherwise each rescan the
    // corpus through it)
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("cnt")).cache()
    val total = freq.agg(sum("cnt").as("total"))
    tok.join(freq, "tok")
      .crossJoin(broadcast(total))
      .withColumn("nll_micros",
        floor(-log(col("cnt").cast("double") / col("total")) * 1e6 + 0.5)
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("nll_micros").as("nll_micros"))
      .withColumn("avg_nll",
        Det.r(col("nll_micros").cast("double") / 1e6 / col("n_tokens"), 6))
      .orderBy("doc_id")
  }

  val docSurprisalSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '\\W+'),
       |                            x -> length(x) > 0)) AS tok
       |  FROM documents),
       |f AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM f),
       |s AS (SELECT doc_id,
       |             CAST(floor(-ln(CAST(cnt AS DOUBLE) / total) * 1e6 + 0.5)
       |                  AS BIGINT) AS nll_micros
       |      FROM tk JOIN f USING (tok) CROSS JOIN tot),
       |g AS (SELECT doc_id, count(*) AS n_tokens,
       |             CAST(sum(nll_micros) AS BIGINT) AS nll_micros
       |      FROM s GROUP BY doc_id)
       |SELECT doc_id, n_tokens, nll_micros,
       |       ${Det.rSql("CAST(nll_micros AS DOUBLE) / 1e6 / n_tokens", 6)} AS avg_nll
       |FROM g ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Term salience (TF-IDF family)
  // --------------------------------------------------------------------

  /** Per-doc top-5 salient terms: score = tf · N / df — the TF-IDF shape
    * with a RATIONAL idf instead of log(N/df). Same ranking monotonicity
    * (idf strictly decreasing in df), but the score is a single exact
    * int-ratio double division, so the cross-engine hash-compare holds
    * (libm log() implementations differ in the last ulp between the JVM
    * and DuckDB — a log-based score could flip rounded digits).
    * Two shuffles: df agg over exploded terms, then per-doc top-k window.
    * Deterministic tiebreak (score desc, term asc). */
  def tfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    // corpus size as a broadcast 1-row frame (not a driver .first() —
    // keeps plan construction lazy and the statistic distributed)
    val nDocs = docs.agg(countDistinct("doc_id").as("n_docs"))
    val terms = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = terms.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    terms.join(df_, "term").crossJoin(broadcast(nDocs))
      .withColumn("score",
        Det.r(col("tf").cast("double") * col("n_docs") / col("df"), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("doc_id", "rnk", "term", "tf", "df", "score")
      .orderBy("doc_id", "rnk")
  }

  val tfidfTopTermsSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'),
       |                        x -> length(x) > 0)) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf.tf, df.df,
       |         ${Det.rSql("CAST(tf.tf AS DOUBLE) * n_docs / df.df", 4)} AS score
       |  FROM tf JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id, rnk, term, tf, df, score
       |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |                                   ORDER BY score DESC, term ASC) AS rnk
       |      FROM scored)
       |WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin

  // --------------------------------------------------------------------
  // Winnowing-fingerprint overlap join (MOSS-style near-dup ranking)
  // --------------------------------------------------------------------

  private val WinnowMaxDf = 256
  private val WinnowMinShared = 3
  private val WinnowTopN = 50

  /** Fingerprint-overlap pair ranking — the MOSS move: two docs are
    * similar when they share many WINNOWING fingerprints (the sampled
    * k-gram minima [[docFingerprint]] emits), giving a 5th member of the
    * dedup family at a different granularity: char-k-gram sampled (vs
    * token-shingle exact in ngram_jaccard, bit-signature in
    * sim/minhash, embedding in cosine). Containment = shared / smaller
    * doc's fingerprint count; pairs rank by the raw count ratio
    * (integer-over-integer division — bit-identical cross-engine) with
    * (doc_a, doc_b) tie-breaks.
    *
    * Scale shape: the ONLY join key is the fingerprint — an inverted
    * index, never all-pairs. The df > maxDf hot set (boilerplate
    * k-grams, and the df² join bomb) is dropped from both sides via a
    * broadcast anti-join BEFORE pairing, the [[contaminationCheck]]
    * discipline; per-doc denominators stay uncapped (a boilerplate-only
    * doc reads 0 overlap, not 0/0). Per-doc counts join WITHOUT a
    * broadcast hint — that frame is |docs|-sized and must shuffle-join
    * at 100 TB (the pair side is dup-mass-sized, so AQE broadcasts it
    * instead when it fits). Top-N via TakeOrderedAndProject. */
  def winnowOverlap(spark: SparkSession, sfDir: String,
                    topN: Int = WinnowTopN): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    import spark.implicits._
    // r14: the fingerprint frame goes behind the write-once session
    // sink ([[Substrate.materialize]], the corpusShingleHashes pattern)
    // instead of the measured-flat .cache() (PERF.md r11: 10.4 s vs
    // 9.8 s at the 1M probe — cache round-trips lost to the JIT'd
    // kernel). The sink is different economics: the typed-flatMap
    // winnow kernel runs ONCE per session and the three consumers below
    // (per-doc counts, hot-set df, cold join — previously three full
    // kernel re-runs, a 12-scan plan) become plain parquet scans of
    // narrow (doc_id, fp) rows, with no executor memory pinned.
    val fp = Substrate.materialize(spark, "graft_winnowfp_", sfDir)(
      normalized(spark, sfDir)
        .flatMap { case (id, ns) =>
          val mins = winnowMins(kgramHashes(ns))
          val out = new Array[(Long, Long)](mins.size)
          var i = 0
          val it = mins.iterator()
          while (it.hasNext) { out(i) = (id, it.next()); i += 1 }
          out
        }.toDF("doc_id", "fp"))
    val nFps = fp.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val hotRaw = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > WinnowMaxDf).select("fp")
    // size-gated (see hotFitsBroadcast): broadcast on corpora where the
    // char-count bound proves the hot set small; shuffle anti-join beyond
    val hot = if (hotFitsBroadcast(spark, sfDir, WinnowMaxDf)) broadcast(hotRaw)
              else hotRaw
    val cold = fp.join(hot, Seq("fp"), "left_anti")
    val shared = cold.select(col("doc_id").as("doc_a"), col("fp"))
      .join(cold.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
    shared
      .join(nFps.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(nFps.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("containment_raw",
        col("n_shared").cast("double") / least(col("n_a"), col("n_b")))
      .orderBy(col("containment_raw").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(topN)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"),
        col("n_b"), Det.r(col("containment_raw"), 6).as("containment"))
  }

  /** Oracle: the [[docFingerprintSql]] fingerprint construction unnested
    * to (doc_id, fp) rows, the same df cap, the same inverted-index
    * self-join. */
  val winnowOverlapSql: String = {
    val pows = (0 until K).map(j =>
      java.lang.Math.pow(B.toDouble, (K - 1 - j).toDouble).toLong)
    val terms = (0 until K).map(j =>
      s"CAST(ascii(substr(ns, i+$j, 1)) AS BIGINT) * ${pows(j)}").mkString(" + ")
    s"""WITH hsrc AS (
       |  SELECT doc_id,
       |         CASE WHEN length(ns) >= $K
       |              THEN list_transform(range(1, length(ns)-${K - 2}),
       |                                  i -> $terms)
       |              ELSE CAST([] AS BIGINT[]) END AS hs
       |  FROM (SELECT doc_id,
       |               trim(regexp_replace(lower(text), '\\W+', ' ', 'g')) AS ns
       |        FROM documents)),
       |fpl AS (
       |  SELECT doc_id,
       |         CASE WHEN len(hs) >= $W
       |              THEN list_distinct(list_transform(range(1, len(hs)-${W - 2}),
       |                                 w -> list_min(hs[w:w+${W - 1}])))
       |              ELSE list_distinct(hs) END AS fps
       |  FROM hsrc),
       |fp AS (SELECT doc_id, unnest(fps) AS fp FROM fpl),
       |nf AS (SELECT doc_id, count(*) AS n FROM fp GROUP BY doc_id),
       |hot AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > $WinnowMaxDf),
       |cold AS (SELECT doc_id, fp FROM fp WHERE fp NOT IN (SELECT fp FROM hot)),
       |sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |       FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2
       |       HAVING count(*) >= $WinnowMinShared)
       |SELECT doc_a, doc_b, n_shared, na.n AS n_a, nb.n AS n_b,
       |       ${Det.rSql("CAST(n_shared AS DOUBLE) / least(na.n, nb.n)", 6)} AS containment
       |FROM sh JOIN nf na ON sh.doc_a = na.doc_id
       |        JOIN nf nb ON sh.doc_b = nb.doc_id
       |ORDER BY CAST(n_shared AS DOUBLE) / least(na.n, nb.n) DESC, doc_a, doc_b
       |LIMIT $WinnowTopN""".stripMargin
  }

  // --------------------------------------------------------------------
  // Windowed co-occurrence PMI (collocation mining)
  // --------------------------------------------------------------------

  private val PmiWindow = 4
  private val PmiMinSupport = 50
  private val PmiTopN = 50

  /** Pointwise mutual information of token pairs co-occurring within a
    * ±[[PmiWindow]]-token window — the collocation readout (word2vec's
    * training signal, phrase-table induction, tokenizer-merge
    * candidates). A pair slot is (tokᵢ, tokⱼ), i < j ≤ i+window,
    * UNORDERED (lexicographic normalization); the association score is
    * the LIFT ratio n_pair·N / (n_a·n_b) over pair-slot counts,
    * support-filtered (pmi = ln(lift) — the ln is left to the consumer:
    * libm ln() may differ between JVMs and DuckDB in the last ulp, which
    * at a ⌊x·10⁶+0.5⌋ boundary would flake the hash gate, whereas the
    * lift itself is exact-rounded IEEE mult/div, identical everywhere).
    *
    * Shape: one typed flatMap kernel emits ≤ window pairs per token
    * position (the [[graft.queries.Relational.partAffinity]] two-index
    * loop — no HOF allocation), one (tok_a, tok_b) grouped agg with
    * map-side combine; marginals fold FROM the pair-count frame (no
    * second corpus scan) and join WITHOUT broadcast hints — the
    * marginal frame is vocab-sized, which grows with the corpus; the
    * one-row total crosses in as the sanctioned scalar funnel. Ranking
    * and the displayed score both use the raw count ratio (identical
    * IEEE mult/div on both engines); ties break lexicographically. */
  def tokenPmi(spark: SparkSession, sfDir: String,
               topN: Int = PmiTopN): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    import spark.implicits._
    val pairs = Tables.documents(spark, sfDir)
      .select(col("text")).as[String]
      .flatMap { text =>
        val ts = text.toLowerCase(java.util.Locale.ROOT)
          .split("\\W+").filter(_.nonEmpty)
        val b = Seq.newBuilder[(String, String)]
        var i = 0
        while (i < ts.length) {
          val e = math.min(i + PmiWindow, ts.length - 1)
          var j = i + 1
          while (j <= e) {
            b += (if (ts(i) <= ts(j)) (ts(i), ts(j)) else (ts(j), ts(i)))
            j += 1
          }
          i += 1
        }
        b.result()
      }.toDF("tok_a", "tok_b")
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n_pair"))
      .cache() // observed-pair-bounded (≤ corpus·window slots, vocab²-capped)
    val marg = pairs.select(col("tok_a").as("tok"), col("n_pair"))
      .union(pairs.select(col("tok_b").as("tok"), col("n_pair")))
      .groupBy("tok").agg(sum("n_pair").as("n_tok"))
    val total = pairs.agg(sum("n_pair").as("n_total"))
    pairs.filter(col("n_pair") >= PmiMinSupport)
      .join(marg.select(col("tok").as("tok_a"), col("n_tok").as("n_a")), "tok_a")
      .join(marg.select(col("tok").as("tok_b"), col("n_tok").as("n_b")), "tok_b")
      .crossJoin(broadcast(total))
      .withColumn("lift_raw",
        col("n_pair").cast("double") * col("n_total") /
          (col("n_a").cast("double") * col("n_b")))
      .orderBy(col("lift_raw").desc, col("tok_a").asc, col("tok_b").asc)
      .limit(topN)
      .select(col("tok_a"), col("tok_b"), col("n_pair"), col("n_a"),
        col("n_b"), Det.r(col("lift_raw"), 6).as("lift"))
  }

  val tokenPmiSql: String =
    s"""WITH tk AS (
       |  SELECT list_filter(string_split_regex(lower(text), '\\W+'),
       |                     x -> length(x) > 0) AS t
       |  FROM documents),
       |pl AS (
       |  SELECT unnest(flatten(list_transform(range(1, len(t) + 1),
       |           i -> list_transform(range(i + 1, least(i + $PmiWindow, len(t)) + 1),
       |                j -> CASE WHEN t[CAST(i AS INT)] <= t[CAST(j AS INT)]
       |                          THEN [t[CAST(i AS INT)], t[CAST(j AS INT)]]
       |                          ELSE [t[CAST(j AS INT)], t[CAST(i AS INT)]] END)))) AS pr
       |  FROM tk),
       |pc AS (SELECT pr[1] AS tok_a, pr[2] AS tok_b, count(*) AS n_pair
       |       FROM pl GROUP BY 1, 2),
       |mg AS (SELECT tok, CAST(sum(n_pair) AS BIGINT) AS n_tok
       |       FROM (SELECT tok_a AS tok, n_pair FROM pc
       |             UNION ALL SELECT tok_b, n_pair FROM pc)
       |       GROUP BY tok),
       |tt AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n_total FROM pc)
       |SELECT tok_a, tok_b, n_pair, a.n_tok AS n_a, b.n_tok AS n_b,
       |       ${Det.rSql(
              "CAST(n_pair AS DOUBLE) * n_total / (CAST(a.n_tok AS DOUBLE) * b.n_tok)", 6)} AS lift
       |FROM pc JOIN mg a ON pc.tok_a = a.tok
       |        JOIN mg b ON pc.tok_b = b.tok
       |        CROSS JOIN tt
       |WHERE n_pair >= $PmiMinSupport
       |ORDER BY CAST(n_pair AS DOUBLE) * n_total / (CAST(a.n_tok AS DOUBLE) * b.n_tok) DESC,
       |         tok_a, tok_b
       |LIMIT $PmiTopN""".stripMargin

  // --------------------------------------------------------------------
  // Vocabulary growth (Heaps-law curve)
  // --------------------------------------------------------------------

  private val GrowthBuckets = 10

  /** Vocabulary-growth curve: new distinct token types per corpus decile
    * (by doc_id) plus the cumulative vocabulary — the Heaps-law readout
    * behind tokenizer sizing and dedup health checks (a corpus whose
    * curve keeps climbing is still diverse; a flat tail says the crawl
    * is recycling). Bucket = ⌊doc_id·10/(max_id+1)⌋, a pure function of
    * doc_id against the one-row max broadcast.
    *
    * Shape: one token explode → min(doc_id) per type (ONE shuffle on
    * the token — first-occurrence is an agg, not a sort), fold to ≤10
    * bucket rows; occurrences fold in a sibling agg of the same
    * explode; the cumulative sum is a triangular join over the ≤10-row
    * bucket frame (bounded — a windowed cumsum would funnel through
    * SinglePartition). All counts exact integers at any scale. */
  def vocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val tk = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    val maxId = Tables.documents(spark, sfDir).agg(max("doc_id").as("max_id"))
    def bucketOf(id: Column): Column =
      floor(id * GrowthBuckets / (col("max_id") + 1)).cast("int")
    val newTypes = tk.groupBy("tok").agg(min("doc_id").as("first_doc"))
      .crossJoin(broadcast(maxId))
      .groupBy(bucketOf(col("first_doc")).as("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    val occ = tk.crossJoin(broadcast(maxId))
      .groupBy(bucketOf(col("doc_id")).as("bucket"))
      .agg(count(lit(1)).as("n_occurrences"))
    val cum = occ.select(col("bucket"))
      .join(newTypes.select(col("bucket").as("b"), col("n_new_types").as("nv")),
        col("b") <= col("bucket"), "left")
      .groupBy("bucket")
      .agg(coalesce(sum("nv"), lit(0L)).as("n_types_cum"))
    occ
      .join(newTypes, Seq("bucket"), "left")
      .join(cum, "bucket")
      .select(col("bucket"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"),
        col("n_types_cum"), col("n_occurrences"),
        Det.r(coalesce(col("n_new_types"), lit(0L)).cast("double") /
          col("n_occurrences"), 6).as("novelty_rate"))
      .orderBy("bucket")
  }

  val vocabGrowthSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '\\W+'),
       |                            x -> length(x) > 0)) AS tok
       |  FROM documents),
       |mx AS (SELECT max(doc_id) AS max_id FROM documents),
       |fd AS (SELECT tok, min(doc_id) AS first_doc FROM tk GROUP BY tok),
       |nt AS (SELECT CAST(floor(first_doc * $GrowthBuckets / (max_id + 1)) AS INTEGER) AS bucket,
       |              count(*) AS n_new_types
       |       FROM fd CROSS JOIN mx GROUP BY 1),
       |ob AS (SELECT CAST(floor(doc_id * $GrowthBuckets / (max_id + 1)) AS INTEGER) AS bucket,
       |              count(*) AS n_occurrences
       |       FROM tk CROSS JOIN mx GROUP BY 1),
       |cm AS (SELECT o.bucket,
       |              CAST(coalesce(sum(n.n_new_types), 0) AS BIGINT) AS n_types_cum
       |       FROM ob o LEFT JOIN nt n ON n.bucket <= o.bucket
       |       GROUP BY o.bucket)
       |SELECT ob.bucket,
       |       CAST(coalesce(n_new_types, 0) AS BIGINT) AS n_new_types,
       |       n_types_cum, n_occurrences,
       |       ${Det.rSql(
              "CAST(coalesce(n_new_types, 0) AS DOUBLE) / n_occurrences", 6)} AS novelty_rate
       |FROM ob LEFT JOIN nt USING (bucket) JOIN cm USING (bucket)
       |ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------------
  // BPE merge-pair counts (tokenizer training, step one)
  // --------------------------------------------------------------------

  private val BpeTopN = 50

  /** Adjacent-symbol pair counts over token occurrences — the first
    * iteration of BPE tokenizer training (count all adjacent character
    * pairs inside tokens, weighted by occurrence; the argmax is the
    * first merge). Emitted as the top-[[BpeTopN]] candidate merges.
    *
    * Deliberately KERNEL-FREE: tokenize → explode, then the pair stream
    * is `transform(sequence(...), i -> substring(tok, i, 2))` — all
    * codegen'd builtins, the whole pipeline is one WholeStageCodegen
    * span into the pair agg. Counts are exact integers; ties break on
    * the pair text. One shuffle (pair agg, map-side combined, ≤
    * |alphabet|² cells), top-N via TakeOrderedAndProject. */
  def bpePairCounts(spark: SparkSession, sfDir: String,
                    topN: Int = BpeTopN): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    Tables.documents(spark, sfDir)
      .select(explode(toks(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2) // sequence(1,0) would DESCEND in Spark
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair").asc)
      .limit(topN)
  }

  val bpePairCountsSql: String =
    s"""SELECT pair, count(*) AS n_occurrences
       |FROM (
       |  SELECT unnest(list_transform(range(1, length(tok)),
       |                i -> substr(tok, CAST(i AS INT), 2))) AS pair
       |  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
       |                                  x -> length(x) > 0)) AS tok
       |        FROM documents)
       |  WHERE length(tok) >= 2)
       |GROUP BY pair
       |ORDER BY n_occurrences DESC, pair
       |LIMIT $BpeTopN""".stripMargin

  // --------------------------------------------------------------------
  // BPE merge loop (tokenizer training, the full iterative trainer)
  // --------------------------------------------------------------------

  private val BpeMerges = 20

  /** The iterative BPE trainer [[bpePairCounts]] is step one of: N merge
    * rounds, each taking the current most-frequent adjacent symbol pair
    * (tie-break: pair text) and rewriting every word's symbol sequence by
    * leftmost non-overlapping replacement — Sennrich-style training over
    * word TYPES weighted by occurrence count. Emits one row per merge:
    * (merge_rank, sym_a, sym_b, n_occurrences).
    *
    * Scale shape: the corpus is scanned ONCE, folding to the word-type
    * frequency frame — VOCAB-sized (Heaps law: ~1M types at 100 TB), not
    * corpus-sized, which is what makes the `.cache()` on it legitimate
    * under CLAUDE.md invariant 4 (without it every one of the N rounds
    * re-scans the corpus; with it each round is a small agg over ≤1M
    * rows). Each round is one distributed pair-count agg (map-side
    * combined, alphabet²-bounded cells) plus a 1-ROW collect of the
    * argmax — model state, the same sanctioned driver round-trip as IVF's
    * Lloyd iterations; the merge rewrite is a codegen'd builtin
    * `replace`.
    *
    * DETERMINISM ACROSS ENGINES hinges on the symbol encoding: a word is
    * stored as every symbol wrapped in single spaces (`"hello"` →
    * `" h  e  l  l  o "`), so merging (a,b) is EXACTLY
    * `replace(rep, ' a  b ', ' ab ')` — both java.lang.String.replace
    * and DuckDB replace() scan left-to-right non-overlapping, each match
    * consumes only its own symbols' delimiters (neighbors keep theirs),
    * and a pattern can never match inside a longer symbol because the
    * wrapping spaces act as boundaries. The DuckDB twin unrolls the N
    * rounds as a MATERIALIZED-CTE chain (materialization keeps the
    * doubly-referenced per-round frames linear, not exponential). */
  /** The training loop itself, returning the learned merge table as
    * driver-side model state (≤ nMerges rows) — shared by [[bpeTrain]]
    * (which just tabulates it) and [[bpeApply]] (which folds it back
    * over the corpus). */
  /** Session-wide memo for the learned merge tables: the three tokenizer
    * queries (train/apply/vocab) each need the SAME ≤nMerges-row model, and
    * before this memo the bench paid the 20 driver-synced merge rounds
    * three times (~14 s → ~6 s, r6 verdict item 3). Keyed (sfDir, nMerges)
    * under the same corpus-dir-immutable-per-session contract as
    * Substrate.materialize; the value is driver-side model state (≤500
    * tiny rows), so a plain concurrent map is enough — no Spark storage
    * involved, hence NOT subject to the SPARK_GRAFT_DISABLE_CACHE A/B knob
    * (which toggles measured intra-query frame caches, not model state). */
  private val bpeMergeMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[(Int, String, String, Long)]]()

  private[queries] def bpeTrainMerges(spark: SparkSession, sfDir: String,
                                      nMerges: Int): Seq[(Int, String, String, Long)] =
    bpeMergeMemo.computeIfAbsent((sfDir, nMerges),
      _ => bpeTrainMergesUncached(spark, sfDir, nMerges))

  private def bpeTrainMergesUncached(spark: SparkSession, sfDir: String,
                                     nMerges: Int): Seq[(Int, String, String, Long)] = {
    require(nMerges > 0 && nMerges <= 500,
      s"nMerges must be in [1, 500], got $nMerges")
    val wordFreq = Tables.documents(spark, sfDir)
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("tok"), "(.)", " $1 ").as("rep"), col("freq"))
      .cache() // vocab-sized (see scaladoc) — prevents N corpus re-scans
    try {
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      var wt: DataFrame = wordFreq
      var r = 1
      var exhausted = false
      while (r <= nMerges && !exhausted) {
        val top = wt
          .select(col("freq"), split(trim(col("rep")), "  ").as("s"))
          .filter(size(col("s")) >= 2) // sequence(1,0) would DESCEND in Spark
          .select(col("freq"), explode(expr(
            "transform(sequence(1, size(s) - 1), i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))"))
            .as("pair"))
          .groupBy("pair").agg(sum("freq").as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(1).collect() // 1 row of model state per round
        if (top.isEmpty) exhausted = true
        else {
          val pair = top(0).getString(0)
          val n = top(0).getLong(1)
          val Array(a, b) = pair.split(" ") // symbols are \w+, never spaced
          merges += ((r, a, b, n))
          // symbols are [a-z0-9_] so embedding them in the SQL literal is safe
          wt = wt.withColumn("rep", expr(s"replace(rep, ' $a  $b ', ' $a$b ')"))
          r += 1
        }
      }
      merges.result()
    } finally { wordFreq.unpersist(); () }
  }

  def bpeTrain(spark: SparkSession, sfDir: String,
               nMerges: Int = BpeMerges): DataFrame = {
    import spark.implicits._
    bpeTrainMerges(spark, sfDir, nMerges)
      .toDF("merge_rank", "sym_a", "sym_b", "n_occurrences")
      .orderBy("merge_rank")
  }

  /** TOKENIZER APPLICATION — the other half of the tokenizer story:
    * train the merge table ([[bpeTrainMerges]], model state), then fold
    * it back over every token occurrence and report per-doc tokenized
    * size: (doc_id, n_tokens, n_chars, n_bpe_symbols, syms_per_token).
    * This is the "how many BPE tokens is my corpus" readout that prices
    * training runs and context budgets.
    *
    * Scale shape: train cost as [[bpeTrain]]; application is a PURE
    * PER-ROW fold — the N learned merges become N chained codegen'd
    * `replace` calls on the exploded token stream (no join against a
    * vocab frame: a shuffle of the corpus-sized token stream costs more
    * than 20 string replaces per row), then one per-doc agg. The merge
    * table rides into codegen as literals — nothing is broadcast or
    * collected at scale. The DuckDB twin applies the same nested
    * replace chain with the best-pair CTEs cross-joined in as scalars
    * (1 row each). */
  def bpeApply(spark: SparkSession, sfDir: String,
               nMerges: Int = BpeMerges): DataFrame = {
    val merges = bpeTrainMerges(spark, sfDir, nMerges)
    val rep = merges.foldLeft(regexp_replace(col("tok"), "(.)", " $1 ")) {
      case (c, (_, a, b, _)) => replace(c, lit(s" $a  $b "), lit(s" $a$b "))
    }
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .select(col("doc_id"), length(col("tok")).as("len"),
        size(split(trim(rep), "  ")).as("n_syms"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("len").as("n_chars"),
        sum("n_syms").cast("long").as("n_bpe_symbols"))
      .select(col("doc_id"), col("n_tokens"), col("n_chars"),
        col("n_bpe_symbols"),
        Det.r(col("n_bpe_symbols").cast("double") / col("n_tokens"), 6)
          .as("syms_per_token"))
      .orderBy("doc_id")
  }

  /** TOKENIZER FERTILITY — the tokenizer-equity readout every
    * multilingual pipeline publishes (how many subword symbols does a
    * word cost per language — a high-fertility language pays more
    * context window per sentence and trains on fewer effective
    * documents). Same memoized merge chain and JIT'd re-fold as
    * [[bpeApply]], aggregated to the bounded |langs| frame instead of
    * per-doc: fertility = symbols/word, compression = chars/symbol.
    *
    * Scale shape: merges are driver model state (memoized per corpus
    * dir); the apply is one corpus scan of string kernels; the agg key
    * is |langs|-bounded. Nothing shuffles but the partial aggs. */
  def tokenizerFertility(spark: SparkSession, sfDir: String,
                         nMerges: Int = BpeMerges): DataFrame = {
    val merges = bpeTrainMerges(spark, sfDir, nMerges)
    val rep = merges.foldLeft(regexp_replace(col("tok"), "(.)", " $1 ")) {
      case (c, (_, a, b, _)) => replace(c, lit(s" $a  $b "), lit(s" $a$b "))
    }
    Tables.documents(spark, sfDir)
      .select(col("lang"), explode(toks(col("text"))).as("tok"))
      .select(col("lang"), length(col("tok")).as("len"),
        size(split(trim(rep), "  ")).as("syms"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("len").as("sum_chars"),
        sum("syms").cast("long").as("n_syms"))
      .select(col("lang"), col("n_words"), col("n_syms"),
        Det.r(col("n_syms").cast("double") / col("n_words"), 6)
          .as("fertility"),
        Det.r(col("sum_chars").cast("double") / col("n_syms"), 6)
          .as("chars_per_sym"))
      .orderBy("lang")
  }

  /** DuckDB twin of [[tokenizerFertility]] — [[bpeApplySql]]'s unrolled
    * merge chain, keyed by lang instead of doc_id. */
  val tokenizerFertilitySql: String = {
    val nested = (1 to BpeMerges).foldLeft(
      "regexp_replace(tok, '(.)', ' \\1 ', 'g')") { (acc, r) =>
      s"replace($acc, ' ' || replace(b$r.pair, ' ', '  ') || ' ', " +
        s"' ' || replace(b$r.pair, ' ', '') || ' ')"
    }
    val crosses = (1 to BpeMerges).map(r => s"CROSS JOIN best$r b$r").mkString(" ")
    s"""WITH ${bpeCtes(BpeMerges)}
       |SELECT lang, count(*) AS n_words,
       |       CAST(sum(len(string_split(trim($nested), '  '))) AS BIGINT) AS n_syms,
       |       ${Det.rSql(
            s"CAST(sum(len(string_split(trim($nested), '  '))) AS DOUBLE) / count(*)", 6)} AS fertility,
       |       ${Det.rSql(
            s"CAST(sum(length(tok)) AS DOUBLE) / sum(len(string_split(trim($nested), '  ')))", 6)} AS chars_per_sym
       |FROM (SELECT lang, unnest(list_filter(string_split_regex(lower(text), '\\W+'),
       |                                      x -> length(x) > 0)) AS tok
       |      FROM documents) d
       |$crosses
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** TOKENIZER VOCABULARY — the third leg of the tokenizer story
    * (train → apply → vocab): the post-merge symbol inventory with
    * occurrence-weighted frequencies, i.e. the dataset-card / tokenizer-
    * file readout. A symbol's frequency is its count across all token
    * occurrences AFTER the learned merges are applied (so a fully-merged
    * word contributes its merged symbol, not its letters).
    *
    * Scale shape: train cost as [[bpeTrain]]; the readout itself re-folds
    * the merge literals over the word-TYPE frame (vocab-sized, Heaps-
    * bounded — NOT the corpus-sized occurrence stream [[bpeApply]] walks,
    * because symbol counts only need type-level reps × type frequency),
    * then explodes symbols and aggregates. Output is vocab-bounded;
    * everything heavier than the one corpus scan inside training is a
    * small agg. */
  def bpeVocab(spark: SparkSession, sfDir: String,
               nMerges: Int = BpeMerges): DataFrame = {
    val merges = bpeTrainMerges(spark, sfDir, nMerges)
    val rep = merges.foldLeft(regexp_replace(col("tok"), "(.)", " $1 ")) {
      case (c, (_, a, b, _)) => replace(c, lit(s" $a  $b "), lit(s" $a$b "))
    }
    Tables.documents(spark, sfDir)
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(explode(split(trim(rep), "  ")).as("sym"), col("freq"))
      .groupBy("sym").agg(sum("freq").as("n_occurrences"))
      .select(col("sym"), col("n_occurrences"),
        (length(col("sym")) > 1).as("is_merged"))
      .orderBy(col("n_occurrences").desc, col("sym").asc)
  }

  /** The shared unrolled training-CTE chain (w, wt0, then
    * pr/best/wt per round) — see [[bpeTrain]]'s scaladoc for why
    * replace() semantics agree across engines. */
  private def bpeCtes(nMerges: Int): String = {
    val ctes = Seq.newBuilder[String]
    ctes += s"""w AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
       |                                  x -> length(x) > 0)) AS tok FROM documents)
       |  GROUP BY tok),
       |wt0 AS MATERIALIZED (SELECT regexp_replace(tok, '(.)', ' \\1 ', 'g') AS rep, freq FROM w)""".stripMargin
    for (r <- 1 to nMerges) {
      ctes += s"""pr$r AS (SELECT unnest(list_transform(range(1, len(s)),
         |    i -> s[CAST(i AS INT)] || ' ' || s[CAST(i AS INT) + 1])) AS pair, freq
         |  FROM (SELECT string_split(trim(rep), '  ') AS s, freq FROM wt${r - 1})
         |  WHERE len(s) >= 2)""".stripMargin
      // the sentinel row keeps best$r non-empty when the corpus exhausts
      // its pairs before round r: '§' is outside the \w tokenizer
      // alphabet, so the sentinel's replace pattern can never match (a
      // no-op merge — exactly Spark's early loop exit), the apply-side
      // cross joins stay populated, and bpeTrainSql filters it on n > 0
      ctes += s"""best$r AS MATERIALIZED (
         |  SELECT * FROM (SELECT pair, CAST(sum(freq) AS BIGINT) AS n
         |                 FROM pr$r GROUP BY pair ORDER BY n DESC, pair LIMIT 1)
         |  UNION ALL
         |  SELECT '§ §', CAST(0 AS BIGINT)
         |  WHERE NOT EXISTS (SELECT 1 FROM pr$r))""".stripMargin
      ctes += s"""wt$r AS MATERIALIZED (SELECT
         |    replace(rep, ' ' || replace(b.pair, ' ', '  ') || ' ',
         |            ' ' || replace(b.pair, ' ', '') || ' ') AS rep, freq
         |  FROM wt${r - 1} CROSS JOIN best$r b)""".stripMargin
    }
    ctes.result().mkString(",\n")
  }

  /** Unrolled-CTE DuckDB twin of [[bpeTrain]] at the default
    * [[BpeMerges]]. */
  val bpeTrainSql: String = {
    val sels = (1 to BpeMerges).map { r =>
      s"""SELECT $r AS merge_rank, split_part(pair, ' ', 1) AS sym_a,
         |  split_part(pair, ' ', 2) AS sym_b, n AS n_occurrences
         |FROM best$r WHERE n > 0""".stripMargin
    }
    "WITH " + bpeCtes(BpeMerges) + "\n" +
      sels.mkString(" UNION ALL ") + " ORDER BY merge_rank"
  }

  /** DuckDB twin of [[bpeApply]]: the same training chain, then the
    * nested replace fold applied per token occurrence with the 1-row
    * best CTEs cross-joined in as scalars. */
  val bpeApplySql: String = {
    val nested = (1 to BpeMerges).foldLeft(
      "regexp_replace(tok, '(.)', ' \\1 ', 'g')") { (acc, r) =>
      s"replace($acc, ' ' || replace(b$r.pair, ' ', '  ') || ' ', " +
        s"' ' || replace(b$r.pair, ' ', '') || ' ')"
    }
    val crosses = (1 to BpeMerges).map(r => s"CROSS JOIN best$r b$r").mkString(" ")
    s"""WITH ${bpeCtes(BpeMerges)}
       |SELECT doc_id, count(*) AS n_tokens,
       |       CAST(sum(length(tok)) AS BIGINT) AS n_chars,
       |       CAST(sum(len(string_split(trim($nested), '  '))) AS BIGINT) AS n_bpe_symbols,
       |       ${Det.rSql(
            s"CAST(sum(len(string_split(trim($nested), '  '))) AS DOUBLE) / count(*)", 6)} AS syms_per_token
       |FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'),
       |                                        x -> length(x) > 0)) AS tok
       |      FROM documents) d
       |$crosses
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of [[bpeVocab]]: the same training chain; wt20 (the
    * post-merge word-type frame) already holds every word's final symbol
    * sequence, so the vocab is one unnest + agg over it. */
  val bpeVocabSql: String =
    s"""WITH ${bpeCtes(BpeMerges)},
       |v AS (SELECT unnest(string_split(trim(rep), '  ')) AS sym, freq
       |      FROM wt$BpeMerges)
       |SELECT sym, CAST(sum(freq) AS BIGINT) AS n_occurrences,
       |       length(sym) > 1 AS is_merged
       |FROM v GROUP BY sym
       |ORDER BY n_occurrences DESC, sym""".stripMargin

  // --------------------------------------------------------------------
  // Gopher quality rules
  // --------------------------------------------------------------------

  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val GopherMinWords = 20
  private val GopherMaxWords = 100000
  private val GopherMinStops = 1

  /** The Gopher rule-based document filters (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1) — the standard pre-training hygiene pass
    * that runs BEFORE model-based quality scoring: word count in
    * [[GopherMinWords]]..[[GopherMaxWords]], mean word length in
    * [3, 10], symbol-to-word ratio (# / …) ≤ 0.1, ≥ 80% of words
    * containing an alphabetic character, and distinct members of the
    * 8-word required-stopword set present ([[GopherMinStops]] — the
    * paper uses 2; the default here is 1 because the fixture
    * vocabulary intersects the fixed Gopher stop set in exactly one
    * word, "the", and a rule no document can ever pass verifies
    * nothing). Unlike [[textQuality]]'s weighted score, these are hard
    * PASS/FAIL rules — each reported per doc so a pipeline can audit
    * WHICH rule fired, plus the combined verdict.
    *
    * Scale: one stateless pass over documents — no shuffle at all
    * (PlanShapeSpec-clean); every ratio integerises through [[Det.r]]
    * before the threshold compare, so the pass flags are cross-engine
    * exact. */
  def gopherQuality(spark: SparkSession, sfDir: String,
                    minWords: Int = GopherMinWords): DataFrame =
    gopherLabeled(spark, sfDir, minWords)
      .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "alpha_word_ratio", "stop_hits", "pass")
      .orderBy("doc_id")

  /** The rule computation shared by [[gopherQuality]] (which reports the
    * per-rule columns) and [[nbQualityScore]] (which consumes only the
    * verdict as its training label, plus the token array `t` so the
    * labeled token stream is ONE corpus pass — no doc_id join). */
  private def gopherLabeled(spark: SparkSession, sfDir: String,
                            minWords: Int): DataFrame = {
    require(minWords >= 0, s"minWords must be >= 0, got $minWords")
    val stopsArr = array(GopherStops.map(lit): _*)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), toks(col("text")).as("t"))
      .withColumn("n_words", size(col("t")))
      .withColumn("mean_word_len",
        r4(aggregate(col("t"), lit(0L), (a, x) => a + length(x)).cast("double")
          / greatest(col("n_words"), lit(1))))
      .withColumn("symbol_ratio",
        r4(((size(split(col("text"), "#")) - 1)
          + (size(split(col("text"), "\\.\\.\\.")) - 1)).cast("double")
          / greatest(col("n_words"), lit(1))))
      .withColumn("alpha_word_ratio",
        r4(size(filter(col("t"), x => x.rlike("[a-z]"))).cast("double")
          / greatest(col("n_words"), lit(1))))
      .withColumn("stop_hits",
        size(filter(array_distinct(col("t")),
          x => array_contains(stopsArr, x))))
      .withColumn("pass",
        col("n_words").between(minWords, GopherMaxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("alpha_word_ratio") >= 0.8 &&
          col("stop_hits") >= GopherMinStops)
  }

  /** Labeled-documents CTE body shared by [[gopherQualitySql]] and
    * [[nbQualityScoreSql]] — SELECTs (doc_id, lang, t, rule columns,
    * pass), mirroring [[gopherLabeled]]. */
  private def gopherLabeledSql(minWords: Int = GopherMinWords): String = {
    val stops = GopherStops.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id, lang, t, n_words, mean_word_len, symbol_ratio,
       |       alpha_word_ratio, stop_hits,
       |       (n_words BETWEEN $minWords AND $GopherMaxWords
       |        AND mean_word_len BETWEEN 3.0 AND 10.0
       |        AND symbol_ratio <= 0.1
       |        AND alpha_word_ratio >= 0.8
       |        AND stop_hits >= $GopherMinStops) AS pass
       |FROM (
       |  SELECT doc_id, lang, t, len(t) AS n_words,
       |         ${r4Sql("CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / greatest(len(t), 1)")} AS mean_word_len,
       |         ${r4Sql("CAST((len(string_split(text, '#')) - 1) + (len(string_split(text, '...')) - 1) AS DOUBLE) / greatest(len(t), 1)")} AS symbol_ratio,
       |         ${r4Sql("CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / greatest(len(t), 1)")} AS alpha_word_ratio,
       |         CAST(len(list_filter(list_distinct(t), x -> list_contains($stops, x))) AS INT) AS stop_hits
       |  FROM (SELECT doc_id, lang, text,
       |               list_filter(string_split_regex(lower(text), '\\W+'),
       |                           x -> length(x) > 0) AS t
       |        FROM documents))""".stripMargin
  }

  /** DuckDB twin of [[gopherQuality]]. */
  val gopherQualitySql: String =
    s"""SELECT doc_id, n_words, mean_word_len, symbol_ratio,
       |       alpha_word_ratio, stop_hits, pass
       |FROM (${gopherLabeledSql()})
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // PII scrub
  // --------------------------------------------------------------------

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** PII detection + redaction — the compliance pass every training
    * pipeline runs before corpus release: match emails and phone-shaped
    * digit runs, count them per doc, and replace each with a typed
    * placeholder (email first, then phone — order matters and is part
    * of the contract). The registered query returns the per-doc counts
    * and the md5 of the REDACTED text (so the oracle verifies the full
    * transform content without shipping corpus-sized strings through
    * the compare); the redacted text itself is the `redact` column of
    * [[piiScrubFrame]] for pipeline composition. The driver fixture
    * contains no digits, so counts are zero there by construction — the
    * redaction behavior is pinned on a synthetic corpus in
    * TextAnalysisSpec (the empty-fixture-tests move).
    *
    * Scale: stateless single pass, regexes are RE2-compatible (linear
    * time, no catastrophic backtracking on adversarial docs). */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    piiScrubFrame(Tables.documents(spark, sfDir))
      .select("doc_id", "n_emails", "n_phones", "redacted_md5", "had_pii")
      .orderBy("doc_id")

  private[graft] def piiScrubFrame(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))))
      .withColumn("n_phones",
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))))
      .withColumn("redact",
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))
      .withColumn("redacted_md5", md5(col("redact")))
      .withColumn("had_pii", (col("n_emails") + col("n_phones")) > 0)

  /** DuckDB twin of [[piiScrub]] (the 'g' flag = Spark's replace-all
    * default). */
  val piiScrubSql: String =
    s"""SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT) AS n_emails,
       |       CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INT) AS n_phones,
       |       md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |                          '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5,
       |       (len(regexp_extract_all(text, '$EmailRe'))
       |        + len(regexp_extract_all(text, '$PhoneRe'))) > 0 AS had_pii
       |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Hashed-feature distribution models: DSIR weights, Naive-Bayes
  // quality classifier, bigram LM scoring
  // --------------------------------------------------------------------

  /** Hashing-trick feature buckets (the DSIR/fastText move): first 8 md5
    * hex chars as a 32-bit non-negative int, mod [[HashBuckets]] — the
    * portable cross-engine construction (same family as
    * Curation's shuffle key and Dedup's shingle hashes). The whole model
    * state is B=[[HashBuckets]] longs regardless of vocabulary size — THE property
    * that makes these operators 100 TB-safe where vocab-sized models
    * (docSurprisal's unigram table) grow with the corpus. */
  private[graft] val HashBuckets = 4096
  private def tokBucket(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long") % HashBuckets
  private def tokBucketSql(c: String): String =
    s"CAST(CAST('0x' || substr(md5($c), 1, 8) AS UBIGINT) AS BIGINT) % $HashBuckets"

  /** DSIR importance-resampling weights (Xie et al. 2023,
    * arXiv:2302.03169): per-doc log importance weight
    * sum_f [ln p_target(h(f)) − ln p_raw(h(f))] over the paper's feature
    * set — hashed word UNIGRAMS AND BIGRAMS — under bag-of-features
    * models with add-one smoothing. This is the data-selection step that
    * reweights a raw crawl toward a target distribution (here: the
    * `targetLang` slice stands in for the target domain, the whole
    * corpus is the raw distribution). Bigrams carry most of the signal
    * on shared-vocabulary corpora: measured on the fixture, the en/rest
    * mean-weight gap is 0.003 with unigrams alone vs 0.036 with
    * uni+bigrams (languages share 100% of the token vocabulary and
    * differ only in co-occurrence patterns).
    *
    * Scale: ONE scan tokenizes the corpus into [[dsirPerDocCounts]]'s
    * per-(doc, lang, bucket) fold; the histogram (BOTH class counts, B
    * rows of model state) and the per-doc scoring join against the
    * broadcast B-row weight table both read that one exchange. At 100 TB
    * the corpus is scanned and tokenized once, and the shuffles are the
    * fold (≤ distinct buckets per doc, map-side combined) and the B-row
    * histogram — never a cached corpus-sized stream (the [[docSurprisal]]
    * argument).
    *
    * Determinism: per-bucket log-ratio integerised to micros BEFORE the
    * per-doc integer sum ([[Det]] discipline); the double divisions are
    * identical IEEE ops on both engines, leaving only the ~1e-9/bucket
    * libm-ulp boundary risk over [[HashBuckets]] buckets. */
  /** The DSIR feature stream (uni+bigram hashed buckets per doc). */
  private def dsirTok(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), toks(col("text")).as("t"))
      .select(col("doc_id"), col("lang"),
        explode(concat(col("t"), zip_with(
          slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
          slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b)))).as("tok"))
      .withColumn("b", tokBucket(col("tok")))

  /** The feature stream folded ONCE into per-(doc, lang, bucket)
    * occurrence counts: the histogram and per-doc scoring legs both
    * re-aggregate from this exchange, so ReuseExchange shares one scan
    * and one tokenize pass between them. That holds only while the
    * subtree is canonically equal in both legs: the scoring join infers
    * `isnotnull(b)` and would push it below this aggregate (b is a
    * grouping key), forking the scoring leg onto its own scan. Filtering
    * `b IS NOT NULL` before the fold makes the inferred filter redundant;
    * it drops nothing, since `conv` of 8 hex chars always parses, so b
    * is never NULL for a non-NULL token. */
  private def dsirPerDocCounts(spark: SparkSession, sfDir: String): DataFrame =
    dsirTok(spark, sfDir).filter(col("b").isNotNull)
      .groupBy("doc_id", "lang", "b")
      .agg(count(lit(1)).as("n"))

  /** The exact integer count tuples feeding [[dsirLwMicros]] — exposed
    * private[graft] so PropertiesSpec can recompute every emitted micro
    * with 30-digit BigDecimal ln (the r8-flagged libm-ulp hazard: a
    * libm/engine bump that lands a weight within 1 ulp of a
    * ⌊x·10⁶+0.5⌋ boundary must fail a spec HERE, not the hash gate). */
  private[graft] def dsirBucketCounts(spark: SparkSession, sfDir: String,
                                      targetLang: String = "en"): DataFrame = {
    val db = dsirPerDocCounts(spark, sfDir)
    // sum(n) over the per-doc fold ≡ count over raw occurrences; the
    // count tuples are value-identical to the unfolded form
    val hist = db.groupBy("b").agg(
      sum("n").as("cnt_raw"),
      sum(when(col("lang") === targetLang, col("n")).otherwise(0L))
        .as("cnt_tgt"))
    val totals = hist.agg(
      coalesce(sum("cnt_raw"), lit(0L)).as("tot_raw"),
      coalesce(sum("cnt_tgt"), lit(0L)).as("tot_tgt"))
    hist.crossJoin(broadcast(totals))
  }

  /** The per-bucket DSIR log-ratio weight in micros, over
    * [[dsirBucketCounts]] columns. */
  private def dsirLwMicros: Column = {
    val B = HashBuckets
    floor((log((col("cnt_tgt") + 1).cast("double") / (col("tot_tgt") + B))
         - log((col("cnt_raw") + 1).cast("double") / (col("tot_raw") + B)))
      * 1e6 + 0.5).cast("long")
  }

  def dsirWeights(spark: SparkSession, sfDir: String,
                  targetLang: String = "en"): DataFrame = {
    // r14 OPTIMIZATION (guide §1.2 step 1 — don't tokenize twice): the
    // scoring pass previously re-ran the corpus tokenize→bigram→hash
    // explode the histogram pass had already paid (the query's dominant
    // per-task work; narrow chains share no exchange, so nothing was
    // reused). Both legs now read [[dsirPerDocCounts]]; the per-doc sum
    // carries multiplicity (Σ n·lw ≡ Σ_occurrences lw — exact integer
    // arithmetic, order-free), so every emitted value is unchanged.
    val db = dsirPerDocCounts(spark, sfDir)
    val w = dsirBucketCounts(spark, sfDir, targetLang)
      .withColumn("lw_micros", dsirLwMicros)
      .select("b", "lw_micros")
    db.join(broadcast(w), "b")
      .groupBy("doc_id")
      .agg(sum("n").as("n_feats"),
        sum(col("n") * col("lw_micros")).as("logw_micros"))
      .withColumn("avg_logw",
        Det.r(col("logw_micros").cast("double") / 1e6 / col("n_feats"), 6))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[dsirWeights]]. */
  val dsirWeightsSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, lang, ${tokBucketSql("tok")} AS b
       |  FROM (SELECT doc_id, lang,
       |               unnest(list_concat(t,
       |                 list_transform(range(1, len(t)),
       |                                i -> t[i] || ' ' || t[i+1]))) AS tok
       |        FROM (SELECT doc_id, lang,
       |                     list_filter(string_split_regex(lower(text), '\\W+'),
       |                                 x -> length(x) > 0) AS t
       |              FROM documents))),
       |h AS (SELECT b, count(*) AS cnt_raw,
       |             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_tgt
       |      FROM tk GROUP BY b),
       |t AS (SELECT CAST(coalesce(sum(cnt_raw), 0) AS BIGINT) AS tot_raw,
       |             CAST(coalesce(sum(cnt_tgt), 0) AS BIGINT) AS tot_tgt FROM h),
       |w AS (SELECT b,
       |             CAST(floor((ln(CAST(cnt_tgt + 1 AS DOUBLE) / (tot_tgt + $HashBuckets))
       |                       - ln(CAST(cnt_raw + 1 AS DOUBLE) / (tot_raw + $HashBuckets)))
       |                  * 1e6 + 0.5) AS BIGINT) AS lw_micros
       |      FROM h CROSS JOIN t),
       |g AS (SELECT doc_id, count(*) AS n_feats,
       |             CAST(sum(lw_micros) AS BIGINT) AS logw_micros
       |      FROM tk JOIN w USING (b) GROUP BY doc_id)
       |SELECT doc_id, n_feats, logw_micros,
       |       ${Det.rSql("CAST(logw_micros AS DOUBLE) / 1e6 / n_feats", 6)} AS avg_logw
       |FROM g ORDER BY doc_id""".stripMargin

  /** Hashed-feature Naive-Bayes quality classifier — the "train a cheap
    * linear filter on rule labels, apply it at scale" shape every
    * production pipeline uses (GPT-3's LR-vs-WebText filter, LLaMA's
    * Wikipedia-reference classifier; fastText is the usual
    * implementation). Training labels are the [[gopherQuality]] rule
    * verdicts computed INLINE in the same scan (a pure function of the
    * text — no doc_id join ships labels around); features are
    * [[HashBuckets]] hashed unigrams; the model is per-bucket
    * log P(b|pass) − log P(b|fail) with add-one smoothing plus a class
    * log-prior. Verdict: nb_micros > 0.
    *
    * Features are hashed unigrams PLUS four discretized meta-features
    * per doc ("len:" log-length bucket, "mwl:" mean-word-length floor,
    * "alf:" alpha-ratio decile, "stp:" capped stop-hit count) — the
    * fastText-style move: a bag-of-words model is length-blind, but the
    * dominant quality rules ARE length/shape rules, so the shape enters
    * as features (measured on the fixture: unigrams alone agree with the
    * rule labels at 0.74 ≈ the 0.734 majority base rate; with the meta
    * features the classifier actually learns the rules). All meta
    * buckets discretize ALREADY-deterministic values (r4-rounded ratios,
    * integer counts), so the feature strings are cross-engine exact.
    *
    * Scale: the [[dsirWeights]] shape — ONE scan labels and tokenizes
    * the corpus into [[nbPerDocCounts]]'s per-(doc, pass, bucket) fold,
    * and all three legs read that one exchange: the B-row histogram
    * trains the weights, the 2-long class prior counts the `len:`
    * features, and the per-doc score joins the broadcast weight table.
    * At 100 TB the fold trades three extra full corpus scans and
    * tokenizations for one shuffle of per-(doc, bucket) counts.
    * Determinism: all log terms integerised to micros before any sum.
    *
    * Self-labeled-and-self-scored on the fixture, the classifier is a
    * SMOOTHED reconstruction of its labels (TextAnalysisSpec pins the
    * agreement floor); the production use trains here, scores elsewhere. */
  /** The NB labeled feature stream (hashed unigrams + meta features)
    * folded ONCE into per-(doc, pass, bucket, is_len) occurrence counts
    * `n` — the [[dsirPerDocCounts]] pattern. Every labeled row with a
    * non-NULL text emits exactly one `len:` feature (no word token holds
    * a `:`), so `is_len` rows count documents: the class prior sums their
    * `n`, which counts duplicate doc_ids once per row and skips NULL-text
    * rows (no tokens, NULL pass) exactly as a per-row count over the
    * labels does. The `b IS NOT NULL` filter drops nothing and keeps the
    * scoring join's inferred `isnotnull(b)` above the fold, so all three
    * legs share one exchange (see [[dsirPerDocCounts]]). */
  private def nbPerDocCounts(spark: SparkSession, sfDir: String): DataFrame =
    gopherLabeled(spark, sfDir, GopherMinWords)
      .select(col("doc_id"), col("pass"),
        concat(col("t"), array(
          concat(lit("len:"),
            floor(log(col("n_words") + 1)).cast("long").cast("string")),
          concat(lit("mwl:"),
            floor(col("mean_word_len")).cast("long").cast("string")),
          concat(lit("alf:"),
            floor(col("alpha_word_ratio") * 10).cast("long").cast("string")),
          concat(lit("stp:"),
            least(col("stop_hits"), lit(4)).cast("string")))).as("t"))
      .select(col("doc_id"), col("pass"), explode(col("t")).as("tok"))
      .select(col("doc_id"), col("pass"), tokBucket(col("tok")).as("b"),
        col("tok").startsWith("len:").as("is_len"))
      .filter(col("b").isNotNull)
      .groupBy("doc_id", "pass", "b", "is_len")
      .agg(count(lit(1)).as("n"))

  /** Count tuples feeding [[nbLwMicros]] — the [[dsirBucketCounts]]
    * libm-hardening hook for the NB weight table. */
  private[graft] def nbBucketCounts(spark: SparkSession,
                                    sfDir: String): DataFrame = {
    val hist = nbPerDocCounts(spark, sfDir).groupBy("b").agg(
      sum(when(col("pass"), col("n")).otherwise(0L)).as("cnt_p"),
      sum(when(!col("pass"), col("n")).otherwise(0L)).as("cnt_f"))
    val tokTot = hist.agg(
      coalesce(sum("cnt_p"), lit(0L)).as("tot_p"),
      coalesce(sum("cnt_f"), lit(0L)).as("tot_f"))
    hist.crossJoin(broadcast(tokTot))
  }

  /** Count tuple feeding the class-prior micros — libm-hardening hook.
    * Conditional sums, not a filter: a filter on `is_len` would be pushed
    * below the fold and fork its exchange. */
  private[graft] def nbPriorCounts(spark: SparkSession,
                                   sfDir: String): DataFrame =
    nbPerDocCounts(spark, sfDir).agg(
      coalesce(sum(when(col("is_len") && col("pass"), col("n")).otherwise(0L)),
        lit(0L)).as("n_p"),
      coalesce(sum(when(col("is_len") && !col("pass"), col("n")).otherwise(0L)),
        lit(0L)).as("n_f"))

  private def nbLwMicros: Column = {
    val B = HashBuckets
    floor((log((col("cnt_p") + 1).cast("double") / (col("tot_p") + B))
         - log((col("cnt_f") + 1).cast("double") / (col("tot_f") + B)))
      * 1e6 + 0.5).cast("long")
  }

  def nbQualityScore(spark: SparkSession, sfDir: String): DataFrame =
    nbScored(spark, sfDir)
      .withColumn("nb_pass", col("nb_micros") > 0)
      .select("doc_id", "n_feats", "nb_micros", "nb_pass")
      .orderBy("doc_id")

  /** The per-doc NB score frame (doc_id, n_feats, nb_micros),
    * MATERIALIZED ONCE per corpus dir — the feature explode + bucket
    * weights are the expensive stage and two queries consume the
    * identical frame (nb_quality_score, quality_calibration); the
    * fuzzy/knn substrate-sharing discipline. */
  private def nbScored(spark: SparkSession, sfDir: String): DataFrame =
    Substrate.materialize(spark, "graft_nb_", sfDir) {
      val db = nbPerDocCounts(spark, sfDir)
      val prior = nbPriorCounts(spark, sfDir)
        .withColumn("prior_micros",
          floor((log((col("n_p") + 1).cast("double"))
               - log((col("n_f") + 1).cast("double"))) * 1e6 + 0.5).cast("long"))
        .select("prior_micros")
      val w = nbBucketCounts(spark, sfDir)
        .withColumn("lw_micros", nbLwMicros)
        .select("b", "lw_micros")
      // Σ n and Σ n·lw over the fold ≡ count and Σ lw over occurrences
      db.join(broadcast(w), "b")
        .groupBy("doc_id")
        .agg(sum("n").as("n_feats"),
          sum(col("n") * col("lw_micros")).as("ratio_micros"))
        .crossJoin(broadcast(prior))
        .withColumn("nb_micros", col("prior_micros") + col("ratio_micros"))
        .select("doc_id", "n_feats", "nb_micros")
    }

  /** DuckDB twin of [[nbQualityScore]]. */
  /** The shared NB DuckDB chain (gopher labels → hashed features →
    * per-bucket weights → per-doc score `g` + prior `pr`) — prefixes
    * [[nbQualityScoreSql]] and [[qualityCalibrationSql]]. */
  private val nbChainCtes: String =
    s"""lab AS (${gopherLabeledSql()}),
       |tk AS (SELECT doc_id, pass, ${tokBucketSql("tok")} AS b
       |       FROM (SELECT doc_id, pass,
       |                    unnest(list_concat(t, [
       |                      'len:' || CAST(CAST(floor(ln(n_words + 1)) AS BIGINT) AS VARCHAR),
       |                      'mwl:' || CAST(CAST(floor(mean_word_len) AS BIGINT) AS VARCHAR),
       |                      'alf:' || CAST(CAST(floor(alpha_word_ratio * 10) AS BIGINT) AS VARCHAR),
       |                      'stp:' || CAST(least(stop_hits, 4) AS VARCHAR)])) AS tok
       |             FROM lab)),
       |h AS (SELECT b,
       |             CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS cnt_p,
       |             CAST(sum(CASE WHEN pass THEN 0 ELSE 1 END) AS BIGINT) AS cnt_f
       |      FROM tk GROUP BY b),
       |tt AS (SELECT CAST(coalesce(sum(cnt_p), 0) AS BIGINT) AS tot_p,
       |              CAST(coalesce(sum(cnt_f), 0) AS BIGINT) AS tot_f FROM h),
       |pr AS (SELECT CAST(floor((ln(CAST(n_p + 1 AS DOUBLE))
       |                        - ln(CAST(n_f + 1 AS DOUBLE))) * 1e6 + 0.5) AS BIGINT) AS prior_micros
       |       FROM (SELECT CAST(coalesce(sum(CASE WHEN pass THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_p,
       |                    CAST(coalesce(sum(CASE WHEN pass THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_f
       |             FROM lab)),
       |w AS (SELECT b,
       |             CAST(floor((ln(CAST(cnt_p + 1 AS DOUBLE) / (tot_p + $HashBuckets))
       |                       - ln(CAST(cnt_f + 1 AS DOUBLE) / (tot_f + $HashBuckets)))
       |                  * 1e6 + 0.5) AS BIGINT) AS lw_micros
       |      FROM h CROSS JOIN tt),
       |g AS (SELECT doc_id, count(*) AS n_feats,
       |             CAST(sum(lw_micros) AS BIGINT) AS ratio_micros
       |      FROM tk JOIN w USING (b) GROUP BY doc_id)""".stripMargin

  val nbQualityScoreSql: String =
    s"""WITH $nbChainCtes
       |SELECT doc_id, n_feats, prior_micros + ratio_micros AS nb_micros,
       |       (prior_micros + ratio_micros) > 0 AS nb_pass
       |FROM g CROSS JOIN pr ORDER BY doc_id""".stripMargin

  /** Calibration band width (per-feature log-odds micros) and the clamp
    * range — fixed, corpus-independent bands (0.1 nats wide, clamped to
    * [−1.0, +1.0)), so banding needs NO corpus statistics: no
    * percent_rank window, no collected quantiles, nothing that
    * serializes or drifts as the corpus grows. */
  private val CalibBandMicros = 100000.0
  private val CalibBandClamp = 10L

  /** QUALITY-SCORER CALIBRATION: the reliability table of the NB
    * quality score against the Gopher rule labels — per fixed-width
    * band of per-feature log-odds, how many docs land there and what
    * fraction the rules actually pass. [[qualityAgreement]] reports ONE
    * agreement number (κ) for the binary gates; this resolves WHERE the
    * scorer is trustworthy ("above +0.3 nats/feature the rules agree
    * 99%; the −0.1..0.1 bands are coin flips — route those to a second
    * classifier"), which is the artifact an operator actually uses to
    * pick a production threshold.
    *
    * Determinism: the per-doc statistic is integerised FIRST
    * (pt_micros = ⌊nb_micros/n_feats + 0.5⌉, an exact-input IEEE
    * division both engines floor identically — negatives included,
    * since ⌊·⌋ is toward −∞ on both), the band is a second IEEE floor
    * of pt_micros/1e5 (NOT integer division: Spark `div` truncates
    * toward zero where DuckDB `//` floors — they diverge on negative
    * scores, the CLAUDE.md trap), and the band sums are integer. Scale:
    * rides the NB score's own shuffles plus one doc_id join to the
    * labels; output is ≤ 2·[[CalibBandClamp]] rows. */
  def qualityCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val nb = nbScored(spark, sfDir)
    val lab = gopherLabeled(spark, sfDir, GopherMinWords)
      .select(col("doc_id"), col("pass"))
    val bd = nb.join(lab, "doc_id").filter(col("n_feats") > 0)
      .withColumn("pt_micros",
        floor(col("nb_micros").cast("double") / col("n_feats") + 0.5).cast("long"))
      .withColumn("band",
        greatest(lit(-CalibBandClamp), least(lit(CalibBandClamp - 1),
          floor(col("pt_micros").cast("double") / CalibBandMicros).cast("long")))
          .cast("int"))
    bd.groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("pass"), 1)).as("n_pass"),
        sum("pt_micros").as("s"))
      .select(col("band"), col("n_docs"), col("n_pass"),
        Det.r(col("n_pass").cast("double") / col("n_docs"), 6).as("pass_rate"),
        Det.r(col("s").cast("double") / col("n_docs") / 1e6, 4).as("mean_log_odds"))
      .orderBy("band")
  }

  /** DuckDB twin — [[nbChainCtes]] + the identical two-floor banding. */
  val qualityCalibrationSql: String =
    s"""WITH $nbChainCtes,
       |sc AS (SELECT g.doc_id, n_feats,
       |              prior_micros + ratio_micros AS nb_micros
       |       FROM g CROSS JOIN pr),
       |bd AS (SELECT s.doc_id, l.pass,
       |              CAST(floor(CAST(nb_micros AS DOUBLE) / n_feats + 0.5)
       |                   AS BIGINT) AS pt_micros
       |       FROM sc s JOIN lab l USING (doc_id)
       |       WHERE n_feats > 0),
       |bb AS (SELECT pass, pt_micros,
       |              CAST(greatest(-$CalibBandClamp, least(${CalibBandClamp - 1},
       |                CAST(floor(CAST(pt_micros AS DOUBLE) / $CalibBandMicros)
       |                     AS BIGINT))) AS INT) AS band
       |       FROM bd)
       |SELECT band, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |       ${Det.rSql(
            "CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS pass_rate,
       |       ${Det.rSql(
            "CAST(sum(pt_micros) AS DOUBLE) / count(*) / 1e6", 4)} AS mean_log_odds
       |FROM bb GROUP BY band ORDER BY band""".stripMargin

  /** TOKEN-BUDGET SURVIVAL CURVE: for every [[qualityCalibration]]
    * score band, how many docs and tokens land there and — the number
    * an operator actually reads — how many docs/tokens SURVIVE a
    * threshold set at that band ("cut at −0.2 nats/feature and 83% of
    * tokens remain"). [[qualityCalibration]] says where the scorer is
    * trustworthy; this says what each candidate cutoff costs in
    * training tokens, which is how production thresholds are actually
    * chosen (quality targets are negotiated against token budgets).
    *
    * Determinism: identical two-floor banding to the calibration table
    * (integerise the per-feature log-odds, then an IEEE floor — never
    * integer division, which diverges on negative scores across
    * engines); token counts are exact integers. Scale: rides the NB
    * score's shuffles plus one doc_id join; the survival cumsum is a
    * band≥band self-join of the ≤ 2·[[CalibBandClamp]]-row band frame
    * (broadcast, integer sums) — the no-corpus-window discipline, same
    * as the forecast's join-shift move. */
  def qualitySurvivalCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val nb = nbScored(spark, sfDir)
    val lab = gopherLabeled(spark, sfDir, GopherMinWords)
      .select(col("doc_id"), col("n_words"))
    val per = nb.join(lab, "doc_id").filter(col("n_feats") > 0)
      .withColumn("pt_micros",
        floor(col("nb_micros").cast("double") / col("n_feats") + 0.5).cast("long"))
      .withColumn("band",
        greatest(lit(-CalibBandClamp), least(lit(CalibBandClamp - 1),
          floor(col("pt_micros").cast("double") / CalibBandMicros).cast("long")))
          .cast("int"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("tokens"))
    val tot = per.agg(sum("tokens").as("tot_tokens"))
    per.join(broadcast(per.select(col("band").as("b2"),
        col("n_docs").as("d2"), col("tokens").as("t2"))),
        col("b2") >= col("band"))
      .groupBy("band", "n_docs", "tokens")
      .agg(sum("d2").as("surv_docs"), sum("t2").as("surv_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("band"), col("n_docs"), col("tokens"),
        col("surv_docs"), col("surv_tokens"),
        Det.r(col("surv_tokens").cast("double") /
          col("tot_tokens").cast("double"), 6).as("surv_token_share"))
      .orderBy("band")
  }

  /** DuckDB twin — [[nbChainCtes]], the calibration banding, and the
    * same band≥band join cumsum. */
  val qualitySurvivalCurveSql: String =
    s"""WITH $nbChainCtes,
       |sc AS (SELECT g.doc_id, n_feats,
       |              prior_micros + ratio_micros AS nb_micros
       |       FROM g CROSS JOIN pr),
       |bd AS (SELECT s.doc_id, l.n_words,
       |              CAST(floor(CAST(nb_micros AS DOUBLE) / n_feats + 0.5)
       |                   AS BIGINT) AS pt_micros
       |       FROM sc s JOIN lab l USING (doc_id)
       |       WHERE n_feats > 0),
       |per AS (SELECT CAST(greatest(-$CalibBandClamp, least(${CalibBandClamp - 1},
       |               CAST(floor(CAST(pt_micros AS DOUBLE) / $CalibBandMicros)
       |                    AS BIGINT))) AS INT) AS band,
       |               count(*) AS n_docs,
       |               CAST(sum(n_words) AS BIGINT) AS tokens
       |        FROM bd GROUP BY 1),
       |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot_tokens FROM per)
       |SELECT a.band, a.n_docs, a.tokens,
       |       CAST(sum(b.n_docs) AS BIGINT) AS surv_docs,
       |       CAST(sum(b.tokens) AS BIGINT) AS surv_tokens,
       |       ${Det.rSql(
        "CAST(sum(b.tokens) AS DOUBLE) / CAST(any_value(tot_tokens) AS DOUBLE)",
        6)} AS surv_token_share
       |FROM per a JOIN per b ON b.band >= a.band CROSS JOIN tot
       |GROUP BY a.band, a.n_docs, a.tokens
       |ORDER BY a.band""".stripMargin

  /** LANG×SOURCE INDEPENDENCE (χ²): is the language mix the same
    * across sources, or does some source skew? — the contingency-table
    * independence test run before trusting per-source quality deltas
    * (a source whose lang mix differs confounds every per-source
    * metric downstream). Emits the full bounded |langs×sources| cell
    * table (observed, expected, each cell's χ² contribution) plus the
    * corpus χ² and degrees of freedom as constant columns — the cell
    * contributions ARE the diagnosis (which (lang, source) pair drives
    * the dependence).
    *
    * Determinism: observed counts are integers; expected and each
    * contribution are one fixed-parenthesization IEEE chain
    * ((row·col)/n; ((d·d)/exp)·1e6) micro-floored PER CELL before the
    * integer total — the two-floor discipline, no big float sums.
    * Scale: one scan to the |langs×sources| frame; everything after is
    * model-state-sized. */
  def langSourceChi2(spark: SparkSession, sfDir: String): DataFrame = {
    val obs = Tables.documents(spark, sfDir)
      .groupBy("lang", "source").agg(count(lit(1)).as("obs"))
    val rowT = obs.groupBy("lang").agg(sum("obs").as("row_t"))
    val colT = obs.groupBy("source").agg(sum("obs").as("col_t"))
    val nTot = obs.agg(sum("obs").as("n_tot"),
      countDistinct("lang").as("n_langs"),
      countDistinct("source").as("n_sources"))
    // FULL grid, zero-observation cells included — χ² charges an absent
    // combination its whole expectation ((0−exp)²/exp = exp); building
    // cells from non-empty observations alone would underestimate the
    // statistic and break the marginal identities
    val cells = rowT.crossJoin(broadcast(colT))
      .join(broadcast(obs), Seq("lang", "source"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .crossJoin(broadcast(nTot))
      .withColumn("exp",
        col("row_t").cast("double") * col("col_t") / col("n_tot"))
      .withColumn("d", col("obs").cast("double") - col("exp"))
      .withColumn("contrib_micros",
        floor(col("d") * col("d") / col("exp") * 1e6 + 0.5).cast("long"))
    val tot = cells.agg(sum("contrib_micros").as("chi2_micros"),
      max((col("n_langs") - 1) * (col("n_sources") - 1)).as("dof"))
    cells.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("obs"),
        Det.r(col("exp"), 4).as("expected"),
        (col("contrib_micros").cast("double") / 1e6).as("contrib"),
        (col("chi2_micros").cast("double") / 1e6).as("chi2"),
        col("dof"))
      .orderBy("lang", "source")
  }

  /** DuckDB twin — identical fixed-parenthesization per-cell chains. */
  val langSourceChi2Sql: String =
    s"""WITH obs AS (SELECT lang, source, count(*) AS obs
       |             FROM documents GROUP BY 1, 2),
       |rt AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS row_t
       |       FROM obs GROUP BY 1),
       |ct AS (SELECT source, CAST(sum(obs) AS BIGINT) AS col_t
       |       FROM obs GROUP BY 1),
       |nt AS (SELECT CAST(sum(obs) AS BIGINT) AS n_tot,
       |              count(DISTINCT lang) AS n_langs,
       |              count(DISTINCT source) AS n_sources FROM obs),
       |cells AS (SELECT r.lang, c.source,
       |                 CAST(coalesce(o.obs, 0) AS BIGINT) AS obs,
       |                 CAST(r.row_t AS DOUBLE) * c.col_t / n.n_tot AS exp,
       |                 CAST(coalesce(o.obs, 0) AS DOUBLE)
       |                   - CAST(r.row_t AS DOUBLE) * c.col_t / n.n_tot AS d
       |          FROM rt r CROSS JOIN ct c
       |               LEFT JOIN obs o ON o.lang = r.lang AND o.source = c.source
       |               CROSS JOIN nt n),
       |cm AS (SELECT lang, source, obs, exp,
       |              CAST(floor(d * d / exp * 1e6 + 0.5) AS BIGINT)
       |                AS contrib_micros
       |       FROM cells),
       |tt AS (SELECT CAST(sum(contrib_micros) AS BIGINT) AS chi2_micros,
       |              max((n_langs - 1) * (n_sources - 1)) AS dof
       |       FROM cm CROSS JOIN nt)
       |SELECT lang, source, obs,
       |       ${Det.rSql("exp", 4)} AS expected,
       |       CAST(contrib_micros AS DOUBLE) / 1e6 AS contrib,
       |       CAST(chi2_micros AS DOUBLE) / 1e6 AS chi2, dof
       |FROM cm CROSS JOIN tt
       |ORDER BY lang, source""".stripMargin

  /** −ln(0.4), the stupid-backoff discount as a shared DECIMAL LITERAL —
    * both engines parse the same shortest-repr decimal to the same
    * double, removing one libm call from the cross-engine surface. */
  private val Ln04 = math.log(0.4)

  /** Bigram-LM document scoring with stupid backoff (Brants et al. 2007)
    * — the CCNet/KenLM perplexity-filter shape: train an n-gram LM on the
    * target slice (`trainLang`), score EVERY doc's token stream under it;
    * out-of-domain docs surface as high avg negative log-likelihood.
    * Completes the LM-scoring ladder: [[docSurprisal]] is the unigram
    * rung (self-trained), this is the conditional rung (target-trained,
    * out-of-vocabulary mass handled by backoff: p = c12/c1 when the
    * bigram was seen, else 0.4 · (c2+1)/(N+V) add-one unigram backoff).
    *
    * Scale: the model tables (c12/c1/c2) are train-slice aggregates —
    * they join the scoring stream on token keys (sort-merge; AQE
    * broadcasts them when the target domain is small, the common case);
    * the scoring stream itself is one scan, no corpus-sized state.
    * Determinism: per-position nll integerised to micros pre-sum; the
    * backoff constant is the shared literal [[Ln04]]. */
  /** The bigram stream joined against the model tables — the count
    * tuple (c12, c1, c2, n_train, v_train) behind every per-position
    * [[bigramNllMicros]] value. private[graft]: PropertiesSpec
    * recomputes the distinct tuples' micros with BigDecimal ln. */
  private[graft] def bigramJoined(spark: SparkSession, sfDir: String,
                                  trainLang: String = "en"): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), toks(col("text")).as("t"))
    val bg = docs.select(col("doc_id"), col("lang"),
        explode(zip_with(
          slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
          slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("lang"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val trainBg = bg.filter(col("lang") === trainLang)
    val c12 = trainBg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = trainBg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val trainTok = docs.filter(col("lang") === trainLang)
      .select(explode(col("t")).as("tok"))
    val c2 = trainTok.groupBy("tok").agg(count(lit(1)).as("c2"))
      .withColumnRenamed("tok", "w2")
    val nv = trainTok.agg(
      count(lit(1)).as("n_train"), countDistinct("tok").as("v_train"))
    bg.join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(c2, Seq("w2"), "left")
      .crossJoin(broadcast(nv))
  }

  /** Per-position stupid-backoff nll in micros over [[bigramJoined]]. */
  private def bigramNllMicros: Column =
    when(col("c12").isNotNull,
      floor(-log(col("c12").cast("double") / col("c1")) * 1e6 + 0.5))
    .otherwise(
      floor(-(lit(Ln04) + log((coalesce(col("c2"), lit(0L)) + 1).cast("double")
        / greatest(col("n_train") + col("v_train"), lit(1L)))) * 1e6 + 0.5))
    .cast("long")

  def bigramLmScore(spark: SparkSession, sfDir: String,
                    trainLang: String = "en"): DataFrame = {
    bigramJoined(spark, sfDir, trainLang)
      .withColumn("nll_micros", bigramNllMicros)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("nll_micros").as("nll_micros"))
      .withColumn("avg_nll",
        Det.r(col("nll_micros").cast("double") / 1e6 / col("n_bigrams"), 6))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[bigramLmScore]] (the `range(1, len(t))` pairing is
    * the proven `bigrams`-oracle idiom; parallel unnests zip
    * positionally). */
  val bigramLmScoreSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, lang,
       |         list_filter(string_split_regex(lower(text), '\\W+'),
       |                     x -> length(x) > 0) AS t
       |  FROM documents),
       |bg AS (SELECT doc_id, lang,
       |              unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
       |              unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
       |       FROM tk),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg WHERE lang = 'en' GROUP BY w1, w2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE lang = 'en' GROUP BY w1),
       |ut AS (SELECT unnest(t) AS tok FROM tk WHERE lang = 'en'),
       |c2 AS (SELECT tok AS w2, count(*) AS c2 FROM ut GROUP BY tok),
       |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_train,
       |              CAST(count(DISTINCT tok) AS BIGINT) AS v_train FROM ut),
       |s AS (SELECT doc_id,
       |             CASE WHEN c12 IS NOT NULL
       |                  THEN CAST(floor(-ln(CAST(c12 AS DOUBLE) / c1) * 1e6 + 0.5) AS BIGINT)
       |                  ELSE CAST(floor(-(($Ln04) + ln(CAST(coalesce(c2, 0) + 1 AS DOUBLE)
       |                       / greatest(n_train + v_train, 1))) * 1e6 + 0.5) AS BIGINT) END AS nll_micros
       |      FROM bg LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
       |              LEFT JOIN c2 USING (w2) CROSS JOIN nv),
       |g AS (SELECT doc_id, count(*) AS n_bigrams,
       |             CAST(sum(nll_micros) AS BIGINT) AS nll_micros
       |      FROM s GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, nll_micros,
       |       ${Det.rSql("CAST(nll_micros AS DOUBLE) / 1e6 / n_bigrams", 6)} AS avg_nll
       |FROM g ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Quality-filter agreement (inter-rater reliability of two gates)
  // --------------------------------------------------------------------

  /** QUALITY-GATE AGREEMENT: the 2×2 confusion between the heuristic
    * gate ([[qualityGate]].keep) and the Gopher rules
    * ([[gopherQuality]].pass) plus observed agreement and Cohen's κ —
    * the inter-rater-reliability readout that says whether two filters
    * are redundant (κ→1), complementary, or contradictory, BEFORE a
    * curation pipeline pays for both at 100 TB.
    *
    * One join of two per-doc flag frames on doc_id (both sides derive
    * from the same documents scan; co-keyed hash join), then a single
    * keyless agg (the sanctioned scalar-agg SinglePartition shape).
    * κ = (pₒ − pₑ)/(1 − pₑ) from exact integer cell counts with one
    * identical double expression per engine ([[Det.r]] r6); κ is null
    * when pₑ = 1 (a degenerate all-one-cell corpus). */
  def qualityAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val gate = qualityGateFrame(docs).select(col("doc_id"), col("keep"))
    val gopher = gopherLabeled(spark, sfDir, GopherMinWords)
      .select(col("doc_id"), col("pass"))
    val cells = gate.join(gopher, "doc_id").agg(
      count(lit(1)).as("n_docs"),
      count(when(col("keep") && col("pass"), 1)).as("both_keep"),
      count(when(!col("keep") && !col("pass"), 1)).as("both_drop"),
      count(when(col("keep") && !col("pass"), 1)).as("gate_only"),
      count(when(!col("keep") && col("pass"), 1)).as("gopher_only"))
    val n = col("n_docs").cast("double")
    val po = (col("both_keep") + col("both_drop")) / n
    val pe = ((col("both_keep") + col("gate_only")) / n) *
      ((col("both_keep") + col("gopher_only")) / n) +
      ((col("both_drop") + col("gopher_only")) / n) *
        ((col("both_drop") + col("gate_only")) / n)
    // empty corpus: drop the degenerate keyless row BEFORE the ratios
    // divide by n=0 (both engines emit zero rows — the r9 empty sweep)
    cells.filter(col("n_docs") > 0)
      .select(col("n_docs"), col("both_keep"), col("both_drop"),
        col("gate_only"), col("gopher_only"),
        Det.r(po, 6).as("po"),
        Det.r(when(pe < 1.0, (po - pe) / (lit(1.0) - pe)), 6).as("kappa"))
  }

  val qualityAgreementSql: String = {
    val n = "CAST(n_docs AS DOUBLE)"
    val po = s"(both_keep + both_drop) / $n"
    val pe = s"((both_keep + gate_only) / $n) * ((both_keep + gopher_only) / $n)" +
      s" + ((both_drop + gopher_only) / $n) * ((both_drop + gate_only) / $n)"
    s"""WITH $repetitionBaseSqlCte,
       |gatef AS (SELECT doc_id,
       |                 NOT (n_tokens < $QualityMinTokens OR dup_bigram_frac > $QualityMaxDupFrac) AS keep
       |          FROM rb),
       |gopherf AS (SELECT doc_id, pass FROM (${gopherLabeledSql()})),
       |cells AS (
       |  SELECT count(*) AS n_docs,
       |         count(*) FILTER (WHERE g.keep AND p.pass) AS both_keep,
       |         count(*) FILTER (WHERE NOT g.keep AND NOT p.pass) AS both_drop,
       |         count(*) FILTER (WHERE g.keep AND NOT p.pass) AS gate_only,
       |         count(*) FILTER (WHERE NOT g.keep AND p.pass) AS gopher_only
       |  FROM gatef g JOIN gopherf p USING (doc_id))
       |SELECT n_docs, both_keep, both_drop, gate_only, gopher_only,
       |       ${Det.rSql(po, 6)} AS po,
       |       CASE WHEN $pe < 1.0
       |            THEN ${Det.rSql(s"($po - ($pe)) / (1.0 - ($pe))", 6)}
       |       END AS kappa
       |FROM cells WHERE n_docs > 0""".stripMargin
  }

  // --------------------------------------------------------------------
  // BM25 retrieval (log-free rational variant)
  // --------------------------------------------------------------------

  private val Bm25Query = Seq("hash", "join", "vector")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25TopN = 10

  /** BM25 TOP-K RETRIEVAL: score every document against a fixed query
    * ("hash join vector") and return the 10 best — the actual SEARCH
    * query the text stack serves, on top of the inverted-index /
    * tf-idf machinery already here.
    *
    * Log-free rational BM25 (documented deviation): idf(t) =
    * (N − df + ½)/(df + ½) instead of its log — the LOG of a ratio is
    * libm-dependent (Spark's JDK log and DuckDB's C library can differ
    * in the last ulp, [[Det]] can't fix an input disagreement), while
    * the ratio itself is one exact-int division. Ranking is order-
    * isomorphic per term; only inter-term weighting compresses
    * differently, which a 3-term query tolerates. tf saturation keeps
    * the standard k1/b form with len/avglen as len·N/ΣLen (exact ints
    * → identical doubles).
    *
    * Shape: the posting scan filters to the query terms BEFORE any agg
    * (|query| ≈ 3 — the explode stream drops to ~3 rows/doc
    * immediately); df and the length stats are bounded side frames
    * (crossJoin-broadcast one-row stats, broadcast |query|-row df);
    * top-k plans as TakeOrderedAndProject, never a global sort. */
  def bm25TopK(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val lens = docs.select(col("doc_id"), size(toks(col("text"))).as("len"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      coalesce(sum("len"), lit(0L)).as("tot_len"))
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(col("term").isin(Bm25Query: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val lenNorm = lit(1.0) - lit(Bm25B) +
      lit(Bm25B) * (col("len").cast("double") * col("n_docs") / col("tot_len"))
    val termScore = idf * (col("tf") * (lit(Bm25K1) + 1.0)) /
      (col("tf") + lit(Bm25K1) * lenNorm)
    tf.join(broadcast(df_), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      // micros-integerised per-term score BEFORE the per-doc sum: each
      // term score is one identical double expression per engine, but a
      // double SUM over the (≤3) term rows would be summation-order-
      // dependent — integer sums are order-free
      .withColumn("ts_u", floor(termScore * 1e6 + 0.5).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("matched_terms"),
        Det.r(sum("ts_u").cast("double") / 1e6, 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25TopN)
  }

  val bm25TopKSql: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH lens AS (
       |  SELECT doc_id,
       |         len(list_filter(string_split_regex(lower(text), '\\W+'),
       |             x -> length(x) > 0)) AS len
       |  FROM documents),
       |st AS (SELECT count(*) AS n_docs,
       |              coalesce(sum(len), 0) AS tot_len FROM lens),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id,
       |               unnest(list_filter(string_split_regex(lower(text), '\\W+'),
       |                      x -> length(x) > 0)) AS term
       |        FROM documents)
       |  WHERE term IN ($terms)
       |  GROUP BY 1, 2),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
       |sc AS (
       |  SELECT tf.doc_id,
       |         CAST(floor(
       |           (st.n_docs - df.df + 0.5) / (df.df + 0.5)
       |             * (tf.tf * (${Bm25K1} + 1.0))
       |             / (tf.tf + ${Bm25K1} * (1.0 - ${Bm25B} + ${Bm25B}
       |                * (CAST(lens.len AS DOUBLE) * st.n_docs / st.tot_len)))
       |           * 1e6 + 0.5) AS BIGINT) AS ts_u
       |  FROM tf JOIN df USING (term) JOIN lens ON lens.doc_id = tf.doc_id
       |  CROSS JOIN st)
       |SELECT doc_id, count(*) AS matched_terms,
       |       ${Det.rSql("CAST(sum(ts_u) AS DOUBLE) / 1e6", 4)} AS score
       |FROM sc GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC
       |LIMIT $Bm25TopN""".stripMargin
  }

  /** DATASET CARD — the one-query corpus summary every released
    * training set publishes (docs, tokens, sources, language mix, dup
    * rate, quality keep rate, length profile): the readout a curation
    * pipeline prints at the end of a build. Composes the module's
    * proven deterministic pieces — the \W+ tokenizer, md5 exact-dup
    * identity, the [[qualityGateFrame]] rules, and the value-bounded
    * n_chars histogram (the [[graft.queries.Temporal.eventsWinsorizedStats]]
    * cut idiom) for the exact median — into one (metric, value) frame.
    * Three corpus scans (scalars, gate, histogram), each a parquet-speed
    * agg; everything that reaches the driver is a handful of scalars
    * plus the |distinct lengths|-bounded histogram. Empty corpus emits
    * ZERO rows on both sides (the r9 empty-guard discipline). */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val base = docs.select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"), size(toks(col("text"))).as("n_tokens"),
      md5(col("text")).as("h"))
    val a = base.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum("n_tokens"), lit(0L)).as("total_tokens"),
      countDistinct("source").as("n_sources"),
      countDistinct("lang").as("n_langs"),
      coalesce(sum(when(col("lang") === "en", 1L).otherwise(0L)), lit(0L)).as("n_en"),
      countDistinct("h").as("n_uniq"),
      coalesce(sum("n_chars"), lit(0L)).as("total_chars")).head()
    val nDocs = a.getAs[Long]("n_docs")
    if (nDocs == 0)
      return Seq.empty[(String, Double)].toDF("metric", "value")
    val hist = base.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getAs[Long]("n_chars"), r.getAs[Long]("cnt")))
      .sortBy(_._1)
    val cums = hist.scanLeft(0L)(_ + _._2)
    val p50 = hist(hist.indices.find(i =>
      cums(i + 1) >= math.ceil(0.5 * nDocs).toLong).get)._1
    val gate = qualityGateFrame(docs).agg(
      count(lit(1)).as("nq"),
      coalesce(sum(when(col("keep"), 1L).otherwise(0L)), lit(0L)).as("nk")).head()
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    Seq(
      "n_docs" -> nDocs.toDouble,
      "total_tokens" -> a.getAs[Long]("total_tokens").toDouble,
      "n_sources" -> a.getAs[Long]("n_sources").toDouble,
      "n_langs" -> a.getAs[Long]("n_langs").toDouble,
      "pct_en" -> r6(a.getAs[Long]("n_en").toDouble / nDocs),
      "exact_dup_rate" -> r6(1.0 - a.getAs[Long]("n_uniq").toDouble / nDocs),
      "mean_chars" -> r6(a.getAs[Long]("total_chars").toDouble / nDocs),
      "p50_chars" -> p50.toDouble,
      "quality_keep_rate" -> r6(gate.getAs[Long]("nk").toDouble / gate.getAs[Long]("nq")))
      .toDF("metric", "value")
      .orderBy("metric")
  }

  /** DuckDB twin of [[datasetCard]]. */
  val datasetCardSql: String =
    s"""WITH $repetitionBaseSqlCte,
       |base AS (SELECT doc_id, lang, source, n_chars,
       |                len(list_filter(string_split_regex(lower(text), '\\W+'),
       |                                x -> length(x) > 0)) AS n_tokens,
       |                md5(text) AS h
       |         FROM documents),
       |a AS (SELECT count(*) AS n_docs,
       |             CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS total_tokens,
       |             count(DISTINCT source) AS n_sources,
       |             count(DISTINCT lang) AS n_langs,
       |             CAST(coalesce(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 0)
       |                  AS BIGINT) AS n_en,
       |             count(DISTINCT h) AS n_uniq,
       |             CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS total_chars
       |      FROM base),
       |hh AS (SELECT n_chars, count(*) AS cnt FROM base GROUP BY 1),
       |w AS (SELECT n_chars,
       |             sum(cnt) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cum,
       |             sum(cnt) OVER () AS n
       |      FROM hh),
       |med AS (SELECT min(n_chars) AS p50 FROM w WHERE cum >= ceil(0.5 * n)),
       |q AS (SELECT count(*) AS nq,
       |             CAST(coalesce(sum(CASE WHEN n_tokens >= $QualityMinTokens
       |                                     AND dup_bigram_frac <= $QualityMaxDupFrac
       |                                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS nk
       |      FROM rb)
       |SELECT metric, value FROM (
       |  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a
       |  UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM a
       |  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM a
       |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
       |  UNION ALL SELECT 'pct_en',
       |    ${Det.rSql("CAST(n_en AS DOUBLE) / n_docs", 6)} FROM a
       |  UNION ALL SELECT 'exact_dup_rate',
       |    ${Det.rSql("1.0 - CAST(n_uniq AS DOUBLE) / n_docs", 6)} FROM a
       |  UNION ALL SELECT 'mean_chars',
       |    ${Det.rSql("CAST(total_chars AS DOUBLE) / n_docs", 6)} FROM a
       |  UNION ALL SELECT 'p50_chars', CAST(med.p50 AS DOUBLE) FROM med
       |  UNION ALL SELECT 'quality_keep_rate',
       |    ${Det.rSql("CAST(q.nk AS DOUBLE) / q.nq", 6)} FROM q)
       |WHERE (SELECT n_docs FROM a) > 0
       |ORDER BY metric""".stripMargin

  /** READABILITY: Flesch reading ease + Flesch–Kincaid grade per
    * (lang, source) slice — the classic pre-LLM quality signal corpus
    * filters still ship (prose-like text scores high; tag soup and
    * keyword stuffing crater). Counts are fully deterministic
    * heuristics shared verbatim with the oracle: words = the module's
    * `\W+` tokenizer, sentences = runs of `[.!?]+` floored at 1,
    * syllables = vowel-group (`[aeiouy]+`) runs over the lowered text
    * plus one for each vowel-less word (a group never spans a `\W`
    * boundary, so the global count equals the per-word sum), complex
    * words = ≥ 3 vowel groups. Per-doc scores are micro-integerised
    * BEFORE the group sum (the float-cumsum trap — the mean is then a
    * single exact-integer ÷ count division, identical on both
    * engines); the formulas are pure IEEE rational arithmetic — no
    * libm anywhere.
    *
    * Scale shape: one corpus scan of JIT-friendly regexp kernels into
    * per-doc integer counts, one hash agg on the bounded
    * |langs × sources| key — nothing else shuffles. Empty corpus emits
    * zero rows on both sides (keyed agg). */
  def readability(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = toks(col("text"))
    val base = Tables.documents(spark, sfDir).select(
      col("lang"), col("source"),
      size(ws).cast("long").as("w"),
      greatest(lit(1L),
        regexp_count(col("text"), lit("[.!?]+")).cast("long")).as("s"),
      (regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long") +
        size(filter(ws, t => !t.rlike("[aeiouy]"))).cast("long")).as("y"),
      size(filter(ws, t => regexp_count(t, lit("[aeiouy]+")) >= 3))
        .cast("long").as("cx"))
      .filter(col("w") > 0)
    val wd = col("w").cast("double")
    val sd = col("s").cast("double")
    val yd = col("y").cast("double")
    val scored = base.select(col("lang"), col("source"), col("w"), col("cx"),
      floor((lit(206.835) - lit(1.015) * (wd / sd) - lit(84.6) * (yd / wd))
        * 1e6 + 0.5).cast("long").as("fmic"),
      floor((lit(0.39) * (wd / sd) + lit(11.8) * (yd / wd) - lit(15.59))
        * 1e6 + 0.5).cast("long").as("gmic"))
    scored.groupBy("lang", "source").agg(
        count(lit(1)).as("n_docs"),
        sum("fmic").as("sf"), sum("gmic").as("sg"),
        sum("cx").as("scx"), sum("w").as("sw"))
      .select(col("lang"), col("source"), col("n_docs"),
        Det.r((col("sf").cast("double") / col("n_docs")) / lit(1e6), 6)
          .as("flesch_ease"),
        Det.r((col("sg").cast("double") / col("n_docs")) / lit(1e6), 6)
          .as("fk_grade"),
        Det.r(col("scx").cast("double") / col("sw"), 6).as("pct_complex"))
      .orderBy("lang", "source")
  }

  /** DuckDB twin of [[readability]]. */
  val readabilitySql: String =
    s"""WITH ws AS (
       |  SELECT lang, source, text,
       |         list_filter(string_split_regex(lower(text), '\\W+'),
       |                     x -> length(x) > 0) AS toks
       |  FROM documents),
       |c AS (SELECT lang, source,
       |             CAST(len(toks) AS BIGINT) AS w,
       |             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
       |                  AS BIGINT) AS s,
       |             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
       |                  + len(list_filter(toks,
       |                        t -> NOT regexp_matches(t, '[aeiouy]')))
       |                  AS BIGINT) AS y,
       |             CAST(len(list_filter(toks,
       |                   t -> len(regexp_extract_all(t, '[aeiouy]+')) >= 3))
       |                  AS BIGINT) AS cx
       |      FROM ws),
       |m AS (SELECT lang, source, w, cx,
       |             CAST(floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
       |                         - 84.6 * (CAST(y AS DOUBLE) / w))
       |                        * 1000000.0 + 0.5) AS BIGINT) AS fmic,
       |             CAST(floor((0.39 * (CAST(w AS DOUBLE) / s)
       |                         + 11.8 * (CAST(y AS DOUBLE) / w) - 15.59)
       |                        * 1000000.0 + 0.5) AS BIGINT) AS gmic
       |      FROM c WHERE w > 0)
       |SELECT lang, source, count(*) AS n_docs,
       |       ${Det.rSql("(CAST(sum(fmic) AS DOUBLE) / count(*)) / 1000000.0", 6)}
       |         AS flesch_ease,
       |       ${Det.rSql("(CAST(sum(gmic) AS DOUBLE) / count(*)) / 1000000.0", 6)}
       |         AS fk_grade,
       |       ${Det.rSql("CAST(sum(cx) AS DOUBLE) / sum(w)", 6)} AS pct_complex
       |FROM m GROUP BY lang, source
       |ORDER BY lang, source""".stripMargin

  /** Context lengths priced by [[packBoundaryCurve]] — shared with the
    * oracle template so both engines walk the identical grid. */
  private[queries] val PackCtxGrid: Seq[Int] = Seq(128, 256, 512, 1024)

  /** Bin count for the doc-order prefix-sum decomposition (the
    * [[graft.streaming.StreamingJobs]] highWatermarkFrame discipline):
    * per-bin token-sum frame ≤ 64k rows — bounded model state. */
  private val PackCurveBins = 65536L

  /** PACKING BOUNDARY CURVE — the context-length tuning table for
    * GPT-style concat-then-chunk packing: lay every document's tokens
    * end to end in doc_id order, cut the stream every `ctx` tokens, and
    * price each candidate ctx in one pass: how many documents straddle
    * a chunk boundary (each straddled doc loses coherence at train
    * time), what fraction of the final chunk is padding. Unlike
    * [[sequencePack]] (greedy whole-doc bins, the no-truncation
    * packer), this is the truncation packer's tuning readout — the two
    * are the standard production alternatives.
    *
    * Scale shape: the document start offsets are a prefix sum over a
    * corpus-sized total order, computed WITHOUT a SinglePartition
    * window — docs bin by doc_id span (≤ [[PackCurveBins]] bins), the
    * per-bin token sums are a bounded frame ([[Hist.bounded]]) folded
    * into carry-ins on the driver and broadcast back, and the within-bin
    * cumsum partitions by bin (the highWatermarkFrame discipline). The
    * ctx grid is ONE conditional agg + explode — never a crossJoin(grid)
    * against the corpus (the watermark_delay_curve lesson). The final
    * frame is |grid| rows, gated on n_docs > 0 so an empty corpus emits
    * zero rows. All-integer end to end (token counts, `div` boundaries,
    * ppm via ⌊x+0.5⌋). */
  def packBoundaryCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cached: the (doc_id, nt) frame is NARROW (16 B/row — 4 MB at the
    // 250k-doc probe) and read by three jobs (span, bin sums, main
    // pass); without it each re-tokenizes the corpus. Measured at 250k
    // docs, warm corpus: 11.5 s uncached → 9.2 s cached (A/B via
    // SPARK_GRAFT_DISABLE_CACHE; the regex tokenize is ~2 extra scans).
    val docs = maybeCache(Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("nt")))
    // doc_id span: 2 longs of model state
    val span = docs.agg(min("doc_id"), max("doc_id")).head()
    val (lo, binW) =
      if (span.isNullAt(0)) (0L, 1L)
      else (span.getLong(0),
        math.max(1L, (span.getLong(1) - span.getLong(0)) / PackCurveBins + 1))
    val binned = docs.withColumn("bin", expr(s"(doc_id - $lo) DIV $binW"))
    val binSum = Hist.bounded(
      binned.groupBy("bin").agg(sum("nt").as("s")), "pack_boundary_curve")
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val carries = Seq.newBuilder[(Long, Long)]
    var run = 0L
    binSum.foreach { case (b, s) => carries += ((b, run)); run += s }
    import spark.implicits._
    val carryDf = carries.result().toDF("bin", "carry")
    val wBin = Window.partitionBy("bin").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withStart = binned
      .join(broadcast(carryDf), Seq("bin"))
      .withColumn("start", coalesce(sum("nt").over(wBin), lit(0L)) + col("carry"))
      .withColumn("end_m1", col("start") + col("nt") - 1)
    val cutCols = PackCtxGrid.map { c =>
      sum(when(col("nt") > 0 &&
        expr(s"start DIV $c") < expr(s"end_m1 DIV $c"), 1L).otherwise(0L))
        .as(s"cut$c")
    }
    val agg = withStart.agg(
      count(lit(1)).as("n_docs"),
      (sum("nt").cast("long").as("total_tokens") +: cutCols): _*)
    agg.filter(col("n_docs") > 0)
      .select(col("n_docs"), col("total_tokens"),
        explode(array(PackCtxGrid.map { c =>
          struct(lit(c).as("ctx"), col(s"cut$c").as("cut"))
        }: _*)).as("g"))
      .select(col("g.ctx").as("ctx"), col("n_docs"), col("total_tokens"),
        expr(s"(total_tokens + g.ctx - 1) DIV g.ctx").as("n_chunks"),
        col("g.cut").as("n_docs_cut"),
        floor(col("g.cut").cast("double") * 1e6 /
          col("n_docs") + 0.5).cast("long").as("cut_ppm"))
      .withColumn("pad_tokens",
        col("n_chunks") * col("ctx") - col("total_tokens"))
      .withColumn("pad_ppm",
        when(col("n_chunks") > 0,
          floor(col("pad_tokens").cast("double") * 1e6 /
            (col("n_chunks") * col("ctx")) + 0.5).cast("long"))
          .otherwise(lit(0L)))
      .orderBy("ctx")
  }

  val packBoundaryCurveSql: String = {
    val grid = PackCtxGrid.map(c => s"($c)").mkString(", ")
    val cuts = PackCtxGrid.map { c =>
      s"""CAST(sum(CASE WHEN nt > 0 AND start // $c < (start + nt - 1) // $c
         |             THEN 1 ELSE 0 END) AS BIGINT) AS cut$c""".stripMargin
    }.mkString(",\n|             ")
    val cutCase = PackCtxGrid.map(c => s"WHEN $c THEN cut$c")
      .mkString(" ")
    s"""WITH d AS (SELECT doc_id,
       |                  CAST(len(list_filter(
       |                    string_split_regex(lower(text), '\\W+'),
       |                    x -> length(x) > 0)) AS BIGINT) AS nt
       |           FROM documents),
       |c AS (SELECT doc_id, nt,
       |             coalesce(sum(nt) OVER (ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |               0) AS start
       |      FROM d),
       |t AS (SELECT count(*) AS n_docs,
       |             CAST(coalesce(sum(nt), 0) AS BIGINT) AS total_tokens,
       |             $cuts
       |      FROM c)
       |SELECT g.ctx, t.n_docs, t.total_tokens,
       |       CAST((t.total_tokens + g.ctx - 1) // g.ctx AS BIGINT)
       |         AS n_chunks,
       |       CAST(CASE g.ctx $cutCase END AS BIGINT) AS n_docs_cut,
       |       CAST(floor(CAST(CASE g.ctx $cutCase END AS DOUBLE) * 1e6
       |                  / t.n_docs + 0.5) AS BIGINT) AS cut_ppm,
       |       CAST((t.total_tokens + g.ctx - 1) // g.ctx * g.ctx
       |            - t.total_tokens AS BIGINT) AS pad_tokens,
       |       CASE WHEN (t.total_tokens + g.ctx - 1) // g.ctx > 0
       |            THEN CAST(floor(
       |              CAST((t.total_tokens + g.ctx - 1) // g.ctx * g.ctx
       |                   - t.total_tokens AS DOUBLE) * 1e6
       |              / ((t.total_tokens + g.ctx - 1) // g.ctx * g.ctx)
       |              + 0.5) AS BIGINT)
       |            ELSE 0 END AS pad_ppm
       |FROM t CROSS JOIN (VALUES $grid) AS g(ctx)
       |WHERE t.n_docs > 0
       |ORDER BY g.ctx""".stripMargin
  }

  /** Target tokens per output shard for [[shardPlan]] — shared with the
    * oracle template (sized so the fixtures produce multiple shards:
    * ~20k corpus tokens at sf0.01 → ~5 shards). */
  private[queries] val ShardTokens = 4096L

  /** SHARD PLAN — the writer-side layout step of a packing pipeline:
    * lay documents end to end in doc_id order and assign each doc to
    * the shard its START offset falls in (shard = start div
    * [[ShardTokens]] — the greedy sequential writer that rolls to a new
    * file when the running token count passes the boundary; documents
    * are never split). Emits one row per shard: doc range, doc count,
    * token count, and fill (ppm of target — can exceed 1e6 because a
    * straddling doc stays in the shard it started in). This is the
    * plan [[sequencePack]]'s bins and [[packBoundaryCurve]]'s pricing
    * feed into an actual distributed write: deterministic, resumable
    * (a shard's contents depend only on the prefix sums, not on
    * partitioning or task order).
    *
    * Scale shape: identical to [[packBoundaryCurve]] — the start
    * offsets are the span-binned prefix-sum decomposition (≤64k-row
    * bounded bin frame, driver carry fold, broadcast back; NO
    * SinglePartition window), then one groupBy(shard) agg. Output is
    * O(total_tokens / [[ShardTokens]]) rows — a distributed frame, not
    * driver state. All-integer end to end. */
  def shardPlan(spark: SparkSession, sfDir: String,
                shardTokens: Long = ShardTokens): DataFrame = {
    require(shardTokens > 0, s"shardTokens must be positive, got $shardTokens")
    import org.apache.spark.sql.expressions.Window
    val docs = maybeCache(Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("nt")))
    val span = docs.agg(min("doc_id"), max("doc_id")).head()
    val (lo, binW) =
      if (span.isNullAt(0)) (0L, 1L)
      else (span.getLong(0),
        math.max(1L, (span.getLong(1) - span.getLong(0)) / PackCurveBins + 1))
    val binned = docs.withColumn("bin", expr(s"(doc_id - $lo) DIV $binW"))
    val binSum = Hist.bounded(
      binned.groupBy("bin").agg(sum("nt").as("s")), "shard_plan")
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val carries = Seq.newBuilder[(Long, Long)]
    var run = 0L
    binSum.foreach { case (b, s) => carries += ((b, run)); run += s }
    import spark.implicits._
    val carryDf = carries.result().toDF("bin", "carry")
    val wBin = Window.partitionBy("bin").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    binned
      .join(broadcast(carryDf), Seq("bin"))
      .withColumn("start", coalesce(sum("nt").over(wBin), lit(0L)) + col("carry"))
      .withColumn("shard", expr(s"start DIV $shardTokens"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        sum("nt").as("shard_tokens"))
      .withColumn("fill_ppm",
        floor(col("shard_tokens").cast("double") * 1e6 / shardTokens + 0.5)
          .cast("long"))
      .orderBy("shard")
  }

  def shardPlanSqlFor(shardTokens: Long): String =
    s"""WITH d AS (SELECT doc_id,
       |                  CAST(len(list_filter(
       |                    string_split_regex(lower(text), '\\W+'),
       |                    x -> length(x) > 0)) AS BIGINT) AS nt
       |           FROM documents),
       |c AS (SELECT doc_id, nt,
       |             coalesce(sum(nt) OVER (ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |               0) AS start
       |      FROM d)
       |SELECT CAST(start // $shardTokens AS BIGINT) AS shard,
       |       count(*) AS n_docs,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |       CAST(sum(nt) AS BIGINT) AS shard_tokens,
       |       CAST(floor(CAST(sum(nt) AS DOUBLE) * 1e6 / $shardTokens + 0.5)
       |            AS BIGINT) AS fill_ppm
       |FROM c
       |GROUP BY 1 ORDER BY shard""".stripMargin

  val shardPlanSql: String = shardPlanSqlFor(ShardTokens)

  /** Ranks fitted by [[zipfFit]] — shared with the oracle template. */
  private[graft] val ZipfTopN = 100

  /** ZIPF POWER-LAW FIT over the corpus token-frequency distribution —
    * the corpus-health readout (natural language sits near slope −1 on
    * a log-log rank/frequency plot; template-generated or deduplicated-
    * to-death corpora bend away from it). The top-[[ZipfTopN]] tokens
    * by count (ties broken on the token string) give (rank, count)
    * pairs; both coordinates pass through the micro-rounded-ln
    * discipline (exact integer inputs, one libm ln each, ⌊x·10⁶+0.5⌋ —
    * PropertiesSpec's BigDecimal case asserts every term off-boundary),
    * and the OLS slope/intercept/R² are ratios of EXACT integer sums
    * (BigInt / HUGEINT) with one fixed-parenthesization double division
    * each. Output is ONE row of model state.
    *
    * Scale: the token count agg is the wordcount shuffle; the top-N is
    * TakeOrdered (k·partitions rows to the driver); the fit runs on 100
    * integers. Nothing downstream of the agg grows with the corpus. */
  def zipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val top = Tables.documents(spark, sfDir)
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(ZipfTopN)
      .collect().map(_.getAs[Long]("cnt"))
    if (top.isEmpty)
      return Seq.empty[(Long, Double, Double, java.lang.Double)]
        .toDF("n_ranks", "slope", "intercept_ln", "r2")
    val x = top.indices.map(i =>
      math.floor(math.log((i + 1).toDouble) * 1e6 + 0.5).toLong)
    val y = top.indices.map(i =>
      math.floor(math.log(top(i).toDouble) * 1e6 + 0.5).toLong)
    val n = top.length.toLong
    val sx = x.sum; val sy = y.sum
    val sxx = x.map(v => BigInt(v) * v).sum
    val syy = y.map(v => BigInt(v) * v).sum
    val sxy = x.zip(y).map { case (a, b) => BigInt(a) * b }.sum
    val covN = (BigInt(n) * sxy - BigInt(sx) * sy).toDouble
    val varX = (BigInt(n) * sxx - BigInt(sx) * sx).toDouble
    val varY = (BigInt(n) * syy - BigInt(sy) * sy).toDouble
    def detR(v: Double, s: Int): Double = {
      val p = math.pow(10, s); math.floor(v * p + 0.5) / p
    }
    val slope = if (varX > 0) detR(covN / varX, 6) else 0.0
    // single-rank corpus (varX = 0): slope degenerates to 0, intercept to
    // the mean ln count — mirrored in the oracle's CASE
    val intercept =
      if (varX > 0) detR((sy.toDouble - covN / varX * sx) / n / 1e6, 6)
      else detR(sy.toDouble / n / 1e6, 6)
    val r2: java.lang.Double =
      if (varX > 0 && varY > 0) detR(covN * covN / (varX * varY), 6) else null
    Seq((n, slope, intercept, r2))
      .toDF("n_ranks", "slope", "intercept_ln", "r2")
  }

  val zipfFitSql: String =
    s"""WITH tc AS (SELECT t AS tok, count(*) AS cnt
       |            FROM (SELECT unnest(list_filter(
       |                    string_split_regex(lower(text), '\\W+'),
       |                    x -> length(x) > 0)) AS t
       |                  FROM documents)
       |            GROUP BY 1),
       |top AS (SELECT cnt,
       |               row_number() OVER (ORDER BY cnt DESC, tok) AS rk
       |        FROM tc QUALIFY rk <= $ZipfTopN),
       |pts AS (SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * 1e6 + 0.5)
       |                    AS BIGINT) AS x,
       |               CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5)
       |                    AS BIGINT) AS y
       |        FROM top),
       |s AS (SELECT count(*) AS n,
       |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |             sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
       |             sum(CAST(y AS DECIMAL(38,0)) * y) AS syy,
       |             sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy
       |      FROM pts),
       |f AS (SELECT n, sx, sy,
       |             CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
       |               AS covn,
       |             CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
       |               AS varx,
       |             CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)
       |               AS vary
       |      FROM s WHERE n > 0)
       |SELECT n AS n_ranks,
       |       CASE WHEN varx > 0 THEN ${Det.rSql("covn / varx", 6)}
       |            ELSE 0.0 END AS slope,
       |       CASE WHEN varx > 0
       |            THEN ${Det.rSql(
        "(CAST(sy AS DOUBLE) - covn / varx * sx) / n / 1e6", 6)}
       |            ELSE ${Det.rSql("CAST(sy AS DOUBLE) / n / 1e6", 6)}
       |       END AS intercept_ln,
       |       CASE WHEN varx > 0 AND vary > 0
       |            THEN ${Det.rSql("covn * covn / (varx * vary)", 6)}
       |       END AS r2
       |FROM f""".stripMargin

  /** N-GRAM NOVELTY CURVE — diminishing returns of more data: walking
    * the corpus in doc_id order, what fraction of each decile's
    * distinct 8-gram hashes was never seen in any earlier document?
    * A healthy fresh corpus stays high; a crawl that re-scrapes the
    * same sites decays fast — THE curve a data-acquisition team reads
    * before paying for the next crawl batch. Reuses the winnowing
    * family's rolling-hash kernel ([[kgramHashes]], property-tested
    * against the direct polynomial) with distinct-within-doc
    * semantics; "novel" = this doc is min(doc_id) over the hash's
    * postings. Deciles bin on the doc_id SPAN (exact integer
    * arithmetic), not a global row_number — no corpus-wide window.
    * Zero-k-gram docs still count in their decile's n_docs.
    * At 100 TB: one scan + one (hash)-keyed shuffle (postings-sized,
    * the contamination_check shape) + one (doc)-keyed agg. */
  def ngramNoveltyCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dh = normalized(spark, sfDir)
      .mapPartitions { it =>
        it.flatMap { case (id, ns) =>
          val seen = new java.util.HashSet[java.lang.Long]()
          kgramHashes(ns).iterator.filter(h => seen.add(h)).map(h => (id, h))
        }
      }.toDF("doc_id", "h")
    val first = dh.groupBy("h").agg(min("doc_id").as("first_doc"))
    val perDoc = dh.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("novel"))
    val span = Tables.documents(spark, sfDir)
      .agg(min("doc_id").as("lo"),
        (max("doc_id") - min("doc_id") + 1).as("w"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .crossJoin(broadcast(span))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "novel"))
      .select(expr("((doc_id - lo) * 10) DIV w").cast("int").as("decile"),
        col("n_grams"), col("novel"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("n_grams").as("n_grams"),
        sum("novel").as("n_novel"))
      .select(col("decile"), col("n_docs"), col("n_grams"), col("n_novel"),
        when(col("n_grams") > 0,
          floor(col("n_novel").cast("double") * 1e6 /
            col("n_grams") + 0.5).cast("long")).as("novelty_ppm"))
      .orderBy("decile")
  }

  /** DuckDB twin — the [[docFingerprintSql]] rolling-hash polynomial,
    * distinct within doc, min-doc_id postings, span-binned deciles. */
  val ngramNoveltyCurveSql: String = {
    val pows = (0 until K).map(j =>
      java.lang.Math.pow(B.toDouble, (K - 1 - j).toDouble).toLong)
    val terms = (0 until K).map(j =>
      s"CAST(ascii(substr(ns, i+$j, 1)) AS BIGINT) * ${pows(j)}")
      .mkString(" + ")
    s"""WITH nd AS (SELECT doc_id,
       |                   trim(regexp_replace(lower(text), '\\W+', ' ', 'g'))
       |                     AS ns
       |            FROM documents),
       |hl AS (SELECT doc_id,
       |              CASE WHEN length(ns) >= $K
       |                   THEN list_distinct(list_transform(
       |                          range(1, length(ns)-${K - 2}), i -> $terms))
       |                   ELSE CAST([] AS BIGINT[]) END AS hs
       |       FROM nd),
       |dh AS (SELECT doc_id, unnest(hs) AS h FROM hl),
       |f AS (SELECT h, min(doc_id) AS first_doc FROM dh GROUP BY 1),
       |pd AS (SELECT dh.doc_id, count(*) AS n_grams,
       |              CAST(sum(CASE WHEN f.first_doc = dh.doc_id
       |                            THEN 1 ELSE 0 END) AS BIGINT) AS novel
       |       FROM dh JOIN f USING (h) GROUP BY 1),
       |sp AS (SELECT min(doc_id) AS lo, max(doc_id) - min(doc_id) + 1 AS w
       |       FROM documents),
       |b AS (SELECT CAST((d.doc_id - sp.lo) * 10 // sp.w AS INTEGER)
       |               AS decile,
       |             coalesce(pd.n_grams, 0) AS n_grams,
       |             coalesce(pd.novel, 0) AS novel
       |      FROM documents d CROSS JOIN sp
       |      LEFT JOIN pd ON pd.doc_id = d.doc_id)
       |SELECT decile, count(*) AS n_docs,
       |       CAST(sum(n_grams) AS BIGINT) AS n_grams,
       |       CAST(sum(novel) AS BIGINT) AS n_novel,
       |       CASE WHEN sum(n_grams) > 0
       |            THEN CAST(floor(CAST(sum(novel) AS DOUBLE) * 1e6
       |                            / sum(n_grams) + 0.5) AS BIGINT)
       |       END AS novelty_ppm
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------------------------------
  // Quality drift monitor (batch + live twin)
  // --------------------------------------------------------------------

  private val QualityDriftDeltaMod = 10L
  /** 0.05-wide score bands over the 4dp quality score: band =
    * ⌊score·10⁴+0.5⌋ div 500 — the [[qualityCalibration]] two-floor
    * discipline (integerise the per-row stat, then integer-divide;
    * scores are ≥ 0 so Spark `div` and DuckDB `//` agree without the
    * negative-operand caveat). ≤ 21 bands. */
  private val QualityBandUnits = 500L

  /** QUALITY DRIFT MONITOR — the third axis of the ingest-drift readout
    * family: [[graft.queries.Similarity.ingestDrift]] watches embedding
    * OCCUPANCY, [[sourceDivergence]] compares frozen per-source token
    * distributions; this one asks whether an incoming shard's QUALITY
    * distribution (the [[textQuality]] heuristic score, banded 0.05
    * wide) matches the corpus — the "tonight's crawl is junk" alarm a
    * training pipeline wants before mixing. Per band: corpus mass,
    * shard mass, exact-integer ppm shares, and the total-variation
    * distance broadcast onto every row — the
    * [[graft.queries.Similarity.ingestDrift]] ledger discipline
    * verbatim (decimal(38,0) deviation numerators, [[Det.halfUpDiv]]
    * BigInt ↔ HUGEINT `//`, so the last ppm digit agrees cross-engine
    * past 2⁵³).
    *
    * Scale: the corpus band histogram is a ≤21-row write-once sink
    * ([[graft.Substrate.materialize]] — persistent across
    * sessions under SPARK_GRAFT_SUBSTRATE_DIR); the shard side is one
    * scored scan of the shard + a ≤21-group count. Nothing corpus-sized
    * moves after the histogram freeze. Empty corpus or shard → zero
    * rows (TV undefined) on both engines. */
  def qualityDrift(spark: SparkSession, sfDir: String,
                   deltaMod: Long = QualityDriftDeltaMod): DataFrame = {
    require(deltaMod > 1, s"deltaMod must be > 1, got $deltaMod")
    val shard = bandCountsOf(
      qualityScoredFrame(Tables.documents(spark, sfDir)
        .filter(col("doc_id") % deltaMod === deltaMod - 1)))
      .withColumnRenamed("n", "n_shard")
    qualityDriftLedger(spark, sfDir, shard)
  }

  /** Per-band counts of a quality-scored frame (column `n`). */
  private def bandCountsOf(scored: DataFrame): DataFrame =
    scored
      .select(expr("CAST(floor(quality_score * 10000 + 0.5) AS BIGINT)" +
        s" div $QualityBandUnits").as("band"))
      .groupBy("band").agg(count(lit(1)).as("n"))

  /** Frozen corpus quality histogram — a ≤21-row write-once sink. */
  private def corpusQualityBands(spark: SparkSession, sfDir: String): DataFrame =
    Substrate.materialize(spark, "graft_qbands_", sfDir)(
      bandCountsOf(qualityScoredFrame(Tables.documents(spark, sfDir)))
        .withColumnRenamed("n", "n_corpus"))

  /** Shared ledger tail of [[qualityDrift]] and [[qualityDriftBatch]] —
    * the [[graft.queries.Similarity.ingestDrift]] shape on score bands. */
  private def qualityDriftLedger(spark: SparkSession, sfDir: String,
                                 shard: DataFrame): DataFrame = {
    import spark.implicits._
    val corpus = corpusQualityBands(spark, sfDir)
    val ncRow = corpus.agg(sum("n_corpus")).head()
    val nc = if (ncRow.isNullAt(0)) 0L else ncRow.getLong(0)
    val nsRow = shard.agg(sum("n_shard")).head()
    val ns = if (nsRow.isNullAt(0)) 0L else nsRow.getLong(0)
    if (nc == 0 || ns == 0)
      return Seq.empty[(Long, Double, Long, Long, Long, Long, Long)]
        .toDF("band", "band_lo", "n_corpus", "n_shard", "corpus_ppm",
          "shard_ppm", "tv_ppm")
    val led = corpus.join(shard, Seq("band"), "left")
      .na.fill(0L, Seq("n_shard"))
      .withColumn("dev",
        abs(col("n_shard").cast("decimal(38,0)") * nc
          - col("n_corpus").cast("decimal(38,0)") * ns))
    val sdev = BigInt(led.agg(sum("dev")).head().getDecimal(0).toBigInteger)
    val tv = Det.halfUpDiv(sdev * 1000000L, BigInt(nc) * ns * 2)
    led.select(col("band"),
        ((col("band") * lit(QualityBandUnits)).cast("double") / lit(10000.0))
          .as("band_lo"),
        col("n_corpus"), col("n_shard"),
        expr(s"(n_corpus * 2000000 + ${nc}L) DIV ${2 * nc}L").as("corpus_ppm"),
        expr(s"(n_shard * 2000000 + ${ns}L) DIV ${2 * ns}L").as("shard_ppm"),
        lit(tv).as("tv_ppm"))
      .orderBy("band")
  }

  /** THE LIVE QUALITY MONITOR — the foreachBatch body completing the
    * per-batch readout row of the live ingest stream (decont gate +
    * dedup gate + occupancy drift + this): score an incoming micro-batch
    * of (doc_id, text) with the SAME kernel [[textQuality]] uses, fold
    * its ≤21 band counts into the cumulative shard histogram (a
    * trivially mergeable monoid of driver model state), and emit the
    * [[qualityDrift]] ledger against the frozen corpus histogram.
    * StreamingSpec pins a multi-batch replay (empty batch included)
    * row-equal to the batch monitor. */
  def qualityDriftBatch(spark: SparkSession, sfDir: String,
                        incoming: DataFrame,
                        prior: Map[Long, Long] = Map.empty)
      : (Map[Long, Long], DataFrame) = {
    import spark.implicits._
    val scored = qualityScoredFrame(
      incoming.select(col("doc_id"), lit("").as("source"), col("text")))
    val batchCounts = bandCountsOf(scored).as[(Long, Long)].collect()
    val merged = batchCounts.foldLeft(prior) { case (m, (b, n)) =>
      m.updated(b, m.getOrElse(b, 0L) + n)
    }
    val shard = merged.toSeq.toDF("band", "n_shard")
    (merged, qualityDriftLedger(spark, sfDir, broadcast(shard)))
  }

  /** THE LIVE MONITOR, ORACLE-GATED — [[qualityDriftBatch]] over the
    * delta shard as one incoming batch (the ingest_drift_replay
    * convention), hash-compared against the batch twin's DuckDB chain
    * through the exact foreachBatch code path. */
  def qualityDriftReplay(spark: SparkSession, sfDir: String,
                         deltaMod: Long = QualityDriftDeltaMod): DataFrame = {
    require(deltaMod > 1, s"deltaMod must be > 1, got $deltaMod")
    val incoming = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % deltaMod === deltaMod - 1)
      .select("doc_id", "text")
    qualityDriftBatch(spark, sfDir, incoming)._2
  }

  /** DuckDB twin — the shared `qsc` quality CTE, banded, then the
    * ingest_drift oracle discipline verbatim (HUGEINT deviation
    * numerators, exact-integer half-up divisions). */
  def qualityDriftSqlFor(deltaMod: Long): String =
    s"""WITH $qualityScoredSqlCte,
       |qb AS (SELECT doc_id,
       |              CAST(floor(quality_score * 10000 + 0.5) AS BIGINT)
       |                // $QualityBandUnits AS band
       |       FROM qsc),
       |corpus AS (SELECT band, count(*) AS n_corpus FROM qb GROUP BY 1),
       |shard AS (SELECT band, count(*) AS n_shard FROM qb
       |          WHERE doc_id % $deltaMod = ${deltaMod - 1} GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS nc,
       |               CAST(sum(CASE WHEN doc_id % $deltaMod = ${deltaMod - 1}
       |                             THEN 1 ELSE 0 END) AS BIGINT) AS ns
       |        FROM qb),
       |led AS (SELECT c.band, c.n_corpus,
       |               CAST(coalesce(s.n_shard, 0) AS BIGINT) AS n_shard
       |        FROM corpus c LEFT JOIN shard s USING (band)),
       |dev AS (SELECT l.band, l.n_corpus, l.n_shard, t.nc, t.ns,
       |               abs(CAST(l.n_shard AS HUGEINT) * t.nc
       |                   - CAST(l.n_corpus AS HUGEINT) * t.ns) AS d
       |        FROM led l, tot t WHERE t.nc > 0 AND t.ns > 0),
       |roll AS (SELECT CAST(
       |           (2 * sum(d) * 1000000 + 2 * CAST(max(nc) AS HUGEINT) * max(ns))
       |           // (4 * CAST(max(nc) AS HUGEINT) * max(ns)) AS BIGINT) AS tv_ppm
       |         FROM dev)
       |SELECT band, CAST(band * $QualityBandUnits AS DOUBLE) / 10000 AS band_lo,
       |       CAST(n_corpus AS BIGINT) AS n_corpus, n_shard,
       |       CAST((CAST(n_corpus AS HUGEINT) * 2000000 + nc)
       |            // (2 * CAST(nc AS HUGEINT)) AS BIGINT) AS corpus_ppm,
       |       CAST((CAST(n_shard AS HUGEINT) * 2000000 + ns)
       |            // (2 * CAST(ns AS HUGEINT)) AS BIGINT) AS shard_ppm,
       |       r.tv_ppm
       |FROM dev CROSS JOIN roll r
       |ORDER BY band""".stripMargin

  val qualityDriftSql: String = qualityDriftSqlFor(QualityDriftDeltaMod)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "shard_plan" -> ((s, d) => shardPlan(s, d)),
    "quality_drift" -> ((s, d) => qualityDrift(s, d)),
    "quality_drift_replay" -> ((s, d) => qualityDriftReplay(s, d)),
    "ngram_novelty_curve" -> ((s, d) => ngramNoveltyCurve(s, d)),
    "zipf_fit" -> ((s, d) => zipfFit(s, d)),
    "pack_boundary_curve" -> ((s, d) => packBoundaryCurve(s, d)),
    "bm25_topk" -> ((s, d) => bm25TopK(s, d)),
    "quality_agreement" -> ((s, d) => qualityAgreement(s, d)),
    "dataset_card"     -> ((s, d) => datasetCard(s, d)),
    "readability"      -> ((s, d) => readability(s, d)),
    "tokenizer_fertility" -> ((s, d) => tokenizerFertility(s, d)),
    "lang_id"          -> ((s, d) => langId(s, d)),
    "text_quality"     -> ((s, d) => textQuality(s, d)),
    "token_counts"     -> ((s, d) => tokenCounts(s, d)),
    "doc_fingerprint"  -> ((s, d) => docFingerprint(s, d)),
    "tfidf_top_terms"  -> ((s, d) => tfidfTopTerms(s, d)),
    "repetition_score" -> ((s, d) => repetitionScore(s, d)),
    "quality_gate"     -> ((s, d) => qualityGate(s, d)),
    "sequence_pack"    -> ((s, d) => sequencePack(s, d)),
    "contamination_check" -> ((s, d) => contaminationCheck(s, d)),
    "corpus_stats"     -> ((s, d) => corpusStats(s, d)),
    "doc_chunk"        -> ((s, d) => docChunk(s, d)),
    "doc_surprisal"    -> ((s, d) => docSurprisal(s, d)),
    "mixture_weights"  -> ((s, d) => mixtureWeights(s, d)),
    "token_histogram"  -> ((s, d) => tokenHistogram(s, d)),
    "source_divergence" -> ((s, d) => sourceDivergence(s, d)),
    "quality_percentile_gate" -> ((s, d) => qualityPercentileGate(s, d)),
    "lang_confusion"   -> ((s, d) => langConfusion(s, d)),
    "pipeline_export"  -> ((s, d) => pipelineExport(s, d)),
    "mixture_apply"    -> ((s, d) => mixtureApply(s, d)),
    "winnow_overlap"   -> ((s, d) => winnowOverlap(s, d)),
    "token_pmi"        -> ((s, d) => tokenPmi(s, d)),
    "vocab_growth"     -> ((s, d) => vocabGrowth(s, d)),
    "bpe_pair_counts"  -> ((s, d) => bpePairCounts(s, d)),
    "bpe_train"        -> ((s, d) => bpeTrain(s, d)),
    "bpe_apply"        -> ((s, d) => bpeApply(s, d)),
    "bpe_vocab"        -> ((s, d) => bpeVocab(s, d)),
    "gopher_quality"   -> ((s, d) => gopherQuality(s, d)),
    "pii_scrub"        -> ((s, d) => piiScrub(s, d)),
    "dsir_weights"     -> ((s, d) => dsirWeights(s, d)),
    "nb_quality_score" -> ((s, d) => nbQualityScore(s, d)),
    "quality_calibration" -> ((s, d) => qualityCalibration(s, d)),
    "quality_survival_curve" -> ((s, d) => qualitySurvivalCurve(s, d)),
    "lang_source_chi2" -> ((s, d) => langSourceChi2(s, d)),
    "bigram_lm_score"  -> ((s, d) => bigramLmScore(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "lang_id"          -> langIdSql,
    "text_quality"     -> textQualitySql,
    "token_counts"     -> tokenCountsSql,
    "doc_fingerprint"  -> docFingerprintSql,
    "tfidf_top_terms"  -> tfidfTopTermsSql,
    "bm25_topk"        -> bm25TopKSql,
    "pack_boundary_curve" -> packBoundaryCurveSql,
    "shard_plan"       -> shardPlanSql,
    "quality_drift"    -> qualityDriftSql,
    "quality_drift_replay" -> qualityDriftSql,
    "zipf_fit"         -> zipfFitSql,
    "ngram_novelty_curve" -> ngramNoveltyCurveSql,
    "quality_agreement" -> qualityAgreementSql,
    "repetition_score" -> repetitionScoreSql,
    "quality_gate"     -> qualityGateSql,
    "sequence_pack"    -> sequencePackSql,
    "contamination_check" -> contaminationCheckSql,
    "corpus_stats"     -> corpusStatsSql,
    "doc_chunk"        -> docChunkSql,
    "doc_surprisal"    -> docSurprisalSql,
    "mixture_weights"  -> mixtureWeightsSql,
    "token_histogram"  -> tokenHistogramSql,
    "source_divergence" -> sourceDivergenceSql,
    "quality_percentile_gate" -> qualityPercentileGateSql,
    "lang_confusion"   -> langConfusionSql,
    "pipeline_export"  -> pipelineExportSql,
    "mixture_apply"    -> mixtureApplySql,
    "winnow_overlap"   -> winnowOverlapSql,
    "token_pmi"        -> tokenPmiSql,
    "vocab_growth"     -> vocabGrowthSql,
    "bpe_pair_counts"  -> bpePairCountsSql,
    "bpe_train"        -> bpeTrainSql,
    "bpe_apply"        -> bpeApplySql,
    "bpe_vocab"        -> bpeVocabSql,
    "gopher_quality"   -> gopherQualitySql,
    "dataset_card"     -> datasetCardSql,
    "readability"      -> readabilitySql,
    "tokenizer_fertility" -> tokenizerFertilitySql,
    "pii_scrub"        -> piiScrubSql,
    "dsir_weights"     -> dsirWeightsSql,
    "nb_quality_score" -> nbQualityScoreSql,
    "quality_calibration" -> qualityCalibrationSql,
    "quality_survival_curve" -> qualitySurvivalCurveSql,
    "lang_source_chi2" -> langSourceChi2Sql,
    "bigram_lm_score"  -> bigramLmScoreSql,
  )
}
