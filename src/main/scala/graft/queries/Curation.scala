package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Substrate, Tables}

/** Corpus-curation operators: the deterministic ordering / budgeting steps
  * between "filtered corpus" and "training shards" in an LLM data pipeline.
  * Both operators are pure integer arithmetic over md5-derived keys, so the
  * DuckDB twins are value-exact with no Det rounding at all.
  */
object Curation {

  // --------------------------------------------------------------------
  // Deterministic corpus shuffle (shard + position assignment)
  // --------------------------------------------------------------------

  private val ShuffleShards = 16

  /** The shared md5-derived shuffle key: first 15 hex chars of
    * md5(doc_id) as a 60-bit non-negative long. A pure function of the
    * id — reproducible across runs, engines, partitionings, and corpus
    * growth (the [[Temporal.bucketCol]] idiom, full-width). */
  private def shuffleKey(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long")

  private def shuffleKeySql(id: String): String =
    s"CAST(CAST('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT)"

  /** Deterministic global corpus shuffle: assign every doc a shard and a
    * position within that shard, both pure functions of doc_id — the
    * "shuffle the corpus before training" step, made reproducible (rerun
    * the pipeline, get byte-identical shards; add docs, existing docs
    * keep their relative order). shard = key mod nShards; pos = rank of
    * the doc's key within its shard (doc_id tie-break, though the 60-bit
    * key makes ties astronomically unlikely).
    *
    * Scale shape: ONE hash shuffle on `shard`, then a per-shard sort for
    * row_number — each window partition holds |corpus|/nShards docs, so
    * the knob IS the scale story: nShards grows with the corpus (100 TB /
    * 100k shards ≈ 1 GB per sort task), and no global sort or
    * SinglePartition funnel ever appears; the final orderBy is the
    * display contract, range-partitioned like every other query's. */
  def corpusShuffle(spark: SparkSession, sfDir: String,
                    nShards: Int = ShuffleShards): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val w = Window.partitionBy("shard").orderBy(col("skey").asc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), shuffleKey(col("doc_id")).as("skey"))
      .withColumn("shard", pmod(col("skey"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")
  }

  val corpusShuffleSql: String =
    s"""SELECT doc_id,
       |       CAST(skey % $ShuffleShards AS INTEGER) AS shard,
       |       CAST(row_number() OVER (PARTITION BY skey % $ShuffleShards
       |                               ORDER BY skey, doc_id) AS INTEGER) AS pos
       |FROM (SELECT doc_id, ${shuffleKeySql("doc_id")} AS skey FROM documents)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Token-budget sampling (per-source budget-capped ingestion)
  // --------------------------------------------------------------------

  private val BudgetDefault = 800L

  /** Per-source token-budget gate: walk each source's docs in
    * deterministic hash order and keep the prefix whose cumulative token
    * count stays within `budget` — the "cap every source at N tokens"
    * step of mixture construction (a raw-proportions corpus lets one
    * giant crawl swamp the mixture; a per-source cap equalizes, and the
    * hash order makes the kept subset a uniform, reproducible sample of
    * the source). Gate semantics are a PREFIX gate: keep ⇔ cumulative
    * tokens (all prior docs in hash order + own) ≤ budget; once the
    * budget line is crossed every later doc drops, so the kept set is
    * stable under re-ingestion, exactly like [[Temporal.splitAssign]].
    *
    * Scale shape — the oracle runs the obvious corpus-wide window
    * `sum() OVER (PARTITION BY source ORDER BY skey)`, which Spark must
    * NOT (source is low-cardinality: that window sorts the corpus in
    * |sources| tasks — the CLAUDE.md trap). Instead the cumsum
    * DECOMPOSES on the key's top 16 bits (bucket = first 4 md5 hex
    * chars, so bucket order is key-order at bucket granularity):
    * (1) a (source, bucket) token histogram — ≤ |sources|·65536 rows
    * regardless of corpus size, hence legitimately broadcastable;
    * (2) a tiny window over the histogram for the cumsum entering each
    * bucket; (3) a per-(source, bucket) window for the within-bucket
    * remainder — 65536-way-split partitions, ~1.5 GB each at 100 TB.
    * cum_tokens = (2) + (3) equals the oracle's single window exactly,
    * and the hash gate proves it per row. */
  def tokenBudgetSample(spark: SparkSession, sfDir: String,
                        budget: Long = BudgetDefault): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val md = md5(col("doc_id").cast("string"))
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.toks(col("text"))).cast("long").as("n_tokens"),
        conv(substring(md, 1, 15), 16, 10).cast("long").as("skey"),
        conv(substring(md, 1, 4), 16, 10).cast("int").as("bucket"))
    val wHist = Window.partitionBy("source").orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = base.groupBy("source", "bucket")
      .agg(sum("n_tokens").as("btoks"))
      .withColumn("cum_before", coalesce(sum("btoks").over(wHist), lit(0L)))
      .select(col("source"), col("bucket"), col("cum_before"))
    val wIn = Window.partitionBy("source", "bucket")
      .orderBy(col("skey").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(hist), Seq("source", "bucket"))
      .withColumn("cum_tokens", col("cum_before") + sum("n_tokens").over(wIn))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= budget).as("keep"))
      .orderBy("doc_id")
  }

  /** Oracle: the naive corpus-wide per-source window — DuckDB can afford
    * it at oracle scale, and hash-matching it proves the bucket
    * decomposition above computes the identical prefix sums. */
  val tokenBudgetSampleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |         CAST(len(list_filter(string_split_regex(lower(text), '\\W+'),
       |                              x -> length(x) > 0)) AS BIGINT) AS n_tokens,
       |         ${shuffleKeySql("doc_id")} AS skey
       |  FROM documents)
       |SELECT doc_id, source, n_tokens,
       |       CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       |       sum(n_tokens) OVER w <= $BudgetDefault AS keep
       |FROM t
       |WINDOW w AS (PARTITION BY source ORDER BY skey, doc_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Systematic PPS sample (weighted, deterministic)
  // --------------------------------------------------------------------

  private val PpsK = 50L

  /** Systematic PPS sample: draw [[PpsK]] tickets proportional-to-size
    * (weight = n_chars) with a deterministic md5 permutation as the
    * "random" order — the weighted corpus subsample every
    * mixture/curriculum pipeline draws ("sample 50 docs, big docs
    * proportionally more often"), reproducible across runs and engines.
    * Classic systematic sampling: lay all docs on the cumulative-weight
    * line in md5-key order, drop K evenly-spaced tickets, and a doc is
    * picked `times_picked` = #tickets inside its weight span — computed
    * as floor(cum·K/total) − floor(cum_before·K/total), all BIGINT (cum ≤
    * ~1e14 chars at 100 TB × K=50 ≈ 5e15, well inside int64).
    *
    * The global cumsum is DECOMPOSED exactly like [[tokenBudgetSample]],
    * but the carry histogram here is GLOBAL (sampling crosses sources),
    * so the per-bucket totals (≤ 4096 rows — 3 hex chars of md5, bounded
    * regardless of corpus size) collect to the driver for the prefix
    * scan and broadcast back — the [[Temporal.eventsValueQuantiles]]
    * model-state pattern. The within-bucket window partitions on bucket:
    * no SinglePartition funnel; per-task sort is |corpus|/4096. `total`
    * is inlined as a literal from the same bounded collect. */
  def weightedSamplePps(spark: SparkSession, sfDir: String,
                        k: Long = PpsK): DataFrame = {
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    val md = md5(col("doc_id").cast("string"))
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        coalesce(col("n_chars"), lit(0L)).as("w"),
        shuffleKey(col("doc_id")).as("skey"),
        conv(substring(md, 1, 3), 16, 10).cast("int").as("bucket"))
    // ≤ 4096 rows of model state, independent of corpus size
    val hist = base.groupBy("bucket").agg(sum("w").as("bw"))
      .collect().map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("bw")))
      .sortBy(_._1)
    val total = hist.map(_._2).sum
    if (total <= 0)
      return Seq.empty[(Long, String, Long, Long)]
        .toDF("doc_id", "source", "n_chars", "times_picked")
    val cumBefore = hist.map(_._1).zip(hist.scanLeft(0L)(_ + _._2))
    val carry = cumBefore.toSeq.toDF("bucket", "cum_before")
    val wIn = Window.partitionBy("bucket")
      .orderBy(col("skey").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(carry), "bucket")
      .withColumn("cum", col("cum_before") + sum("w").over(wIn))
      .withColumn("times_picked",
        expr(s"(cum * $k) DIV ${total}L - ((cum - w) * $k) DIV ${total}L"))
      .filter(col("times_picked") >= 1)
      .select(col("doc_id"), col("source"), col("w").as("n_chars"),
        col("times_picked"))
      .orderBy("doc_id")
  }

  /** Oracle: the naive corpus-wide window — affordable in DuckDB at
    * oracle scale; hash-matching proves the bucket decomposition and the
    * driver-side carry produce identical prefix sums and picks. */
  val weightedSamplePpsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, COALESCE(n_chars, 0) AS w,
       |         ${shuffleKeySql("doc_id")} AS skey,
       |         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)
       |              AS UBIGINT) AS INT) AS bucket
       |  FROM documents),
       |tot AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM t),
       |c AS (SELECT doc_id, source, w,
       |             CAST(sum(w) OVER (ORDER BY bucket, skey, doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |               AS BIGINT) AS cum
       |      FROM t)
       |SELECT doc_id, source, w AS n_chars,
       |       CAST((cum * $PpsK) // tot.total
       |         - ((cum - w) * $PpsK) // tot.total AS BIGINT) AS times_picked
       |FROM c, tot
       |WHERE (cum * $PpsK) // tot.total
       |        - ((cum - w) * $PpsK) // tot.total >= 1
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Leakage-safe holdout split (content-keyed, with straddle audit)
  // --------------------------------------------------------------------

  /** Leakage-safe train/val/test split: the assignment is keyed on the
    * CONTENT hash ([[Dedup.exactDedup]]'s md5 over normalized text), not
    * the row id — so byte-identical duplicates co-assign BY CONSTRUCTION
    * and no exact-dup cluster can straddle train and eval. This is the
    * hole in [[Temporal.splitAssign]]-style id-keyed splits: a web
    * corpus carries the same page under many doc_ids, and an id-keyed
    * split quietly places copies of a test document into train — the
    * classic eval-contamination bug. Emits the per-split composition
    * readout (docs, distinct contents, dup mass, token total, doc
    * share) plus `leaked_clusters` — content clusters observed in >1
    * split — COMPUTED from the assignment rather than asserted, so the
    * readout itself proves the guarantee (CurationSpec additionally
    * pins a fixture where the id-keyed split DOES straddle a dup pair
    * and this one does not).
    *
    * Scale shape: one scan computes (16-byte content hash, token count)
    * per doc; the split is a pure function of the hash (no join back to
    * an assignment table). Both aggregates shuffle on the content hash
    * — `leaked` directly, the per-split distinct-count via the (split,
    * ch) expand — carrying 16-byte keys + a long, never the text. The
    * two scalar frames (corpus total, leak count) are 1-row broadcasts.
    * Distinct counts are exact by oracle contract; the 100 TB audit
    * variant swaps HLL exactly as [[Relational.tableProfile]] documents.
    * Empty corpus: zero rows on both engines (the keyless scalars cross
    * an empty per-split aggregate). */
  /** Content-hash split assignment shared by [[leakageSafeSplit]],
    * [[splitBalanceAudit]], and the decontamination tier:
    * (doc_id, lang, source, ch, n_tokens, split) with the 5/5/90
    * test/val/train buckets keyed on the NORMALIZED content hash — one
    * definition, all consumers, no drift.
    *
    * PERSISTED once per session (write-once bucketed sink, r12 verdict
    * #1): the md5 + tokenize pass over the full text column is the
    * expensive stage, and SIX queries consume the identical frame; the
    * sink's HashPartitioning(doc_id, 32) also deletes this side's
    * exchange from the substrate build's vec_id == doc_id join. The
    * split is a pure function of content, so the persisted frame IS the
    * frozen split — exactly the production contract (the split freezes
    * at train time; a re-derivation that could drift per reader is the
    * bug, not the optimization). */
  private def splitAssigned(spark: SparkSession, sfDir: String): DataFrame =
    Substrate.materialize(spark, "graft_split_", sfDir,
      Substrate.Bucketed(32, "doc_id"))(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          md5(trim(regexp_replace(lower(col("text")), "\\W+", " "))).as("ch"),
          size(TextAnalysis.toks(col("text"))).cast("long").as("n_tokens"))
        .withColumn("b", Temporal.bucketCol(col("ch")))
        .withColumn("split",
          when(col("b") < 5, "test")
            .when(col("b") < 10, "val").otherwise("train")))

  /** The FROZEN eval side of the decontamination gates — every non-train
    * doc's (cell, split, eval_doc, n_tokens, xe, ne) — persisted once
    * per session as a CELL-BUCKETED sink (the r12 verdict's top ask,
    * stated in [[decontGateBatch]]'s scaladoc since r12): the
    * full/delta/live gates all join this frame on `cell`, and the
    * bucketed scan's HashPartitioning(cell, 32) makes that join
    * EXCHANGE-FREE on the static side — per micro-batch only the
    * incoming shard shuffles (CurationSpec pins the plan shape). At
    * 100 TB this is the difference between re-shuffling the eval corpus
    * every nightly shard and never touching it after freeze. */
  private def evalSideMaterialized(spark: SparkSession, sfDir: String): DataFrame =
    Substrate.materialize(spark, "graft_decont_eval_", sfDir,
      Substrate.Bucketed(32, "cell"))(
      Similarity.ivfAssigned(spark, sfDir)
        .join(Similarity.vecs(spark, sfDir), "vec_id")
        .join(splitAssigned(spark, sfDir)
          .select(col("doc_id"), col("split"), col("n_tokens")),
          col("vec_id") === col("doc_id"))
        .filter(col("split") =!= "train")
        .select(col("cell"), col("split"), col("doc_id").as("eval_doc"),
          col("n_tokens"), col("v").as("xe"), col("norm").as("ne")))

  def leakageSafeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val a = splitAssigned(spark, sfDir)
    val tot = a.agg(count(lit(1)).as("n_total"))
    val leak = a.groupBy("ch")
      .agg(count_distinct(col("split")).as("ns"))
      .filter(col("ns") > 1)
      .agg(count(lit(1)).as("leaked"))
    a.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("ch")).as("n_clusters"),
        (count(lit(1)) - count_distinct(col("ch"))).as("n_dup_docs"),
        sum("n_tokens").as("tokens"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(leak))
      .select(col("split"), col("n_docs"), col("n_clusters"),
        col("n_dup_docs"), col("tokens"),
        graft.queries.Det.r(
          col("n_docs").cast("double") / col("n_total"), 6).as("pct_docs"),
        col("leaked").as("leaked_clusters"))
      .orderBy("split")
  }

  val leakageSafeSplitSql: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |         md5(trim(regexp_replace(lower(text), '\\W+', ' ', 'g'))) AS ch,
       |         CAST(len(list_filter(string_split_regex(lower(text), '\\W+'),
       |                              x -> length(x) > 0)) AS BIGINT) AS n_tokens
       |  FROM documents),
       |a AS (
       |  SELECT doc_id, ch, n_tokens,
       |         CASE WHEN b < 5 THEN 'test'
       |              WHEN b < 10 THEN 'val' ELSE 'train' END AS split
       |  FROM (SELECT h.*,
       |               CAST(CAST('0x' || substr(md5(ch), 1, 15) AS UBIGINT)
       |                    % 100 AS INTEGER) AS b
       |        FROM h)),
       |tot AS (SELECT count(*) AS n_total FROM a),
       |leak AS (SELECT count(*) AS leaked
       |         FROM (SELECT ch FROM a GROUP BY ch
       |               HAVING count(DISTINCT split) > 1)),
       |s AS (SELECT split, count(*) AS n_docs,
       |             count(DISTINCT ch) AS n_clusters,
       |             count(*) - count(DISTINCT ch) AS n_dup_docs,
       |             CAST(sum(n_tokens) AS BIGINT) AS tokens
       |      FROM a GROUP BY split)
       |SELECT s.split, s.n_docs, s.n_clusters, s.n_dup_docs, s.tokens,
       |       ${Det.rSql("CAST(s.n_docs AS DOUBLE) / tot.n_total", 6)} AS pct_docs,
       |       leak.leaked AS leaked_clusters
       |FROM s, tot, leak
       |ORDER BY split""".stripMargin

  /** SPLIT BALANCE AUDIT — the other half of the release gate:
    * [[leakageSafeSplit]] proves no content crosses the eval boundary;
    * this proves each split is compositionally REPRESENTATIVE. A
    * hash-keyed split is unbiased in expectation but any finite corpus
    * deviates — per (split, lang): doc and token counts, the language's
    * share WITHIN the split vs its corpus-wide share, and the deviation.
    * An eval set that under-samples a language mis-measures it; this
    * table is what you read before trusting per-language eval deltas
    * (and the full grid emits even zero-count (split, lang) cells — an
    * ABSENT language in val is exactly the finding).
    *
    * Shapes: one scan into a (split, lang) grouped agg (≤ 3·|langs|
    * rows), cross-joined against the 3×|langs| dense grid built from
    * two bounded distinct frames; shares divide exact longs in IEEE and
    * round via [[Det]]; the deviation subtracts the two exact-division
    * doubles (two fixed operands — fold-order-free, identical on both
    * engines), never a long×long product that could outgrow 2⁶³ at
    * corpus scale. */
  def splitBalanceAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val a = splitAssigned(spark, sfDir)
    val sl = a.groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
    val s = a.groupBy("split").agg(count(lit(1)).as("n_split"))
    val l = a.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val tot = a.agg(count(lit(1)).as("n_total"))
    // dense grid: a language missing from a split must REPORT, not vanish
    val grid = s.select("split").crossJoin(l.select("lang"))
    grid
      .join(sl, Seq("split", "lang"), "left")
      .join(s, "split").join(broadcast(l), "lang").crossJoin(broadcast(tot))
      .select(col("split"), col("lang"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("tokens"), lit(0L)).as("tokens"),
        Det.r(coalesce(col("n_docs"), lit(0L)).cast("double") /
          col("n_split"), 6).as("split_share"),
        Det.r(col("n_lang").cast("double") / col("n_total"), 6)
          .as("corpus_share"),
        Det.r(coalesce(col("n_docs"), lit(0L)).cast("double") / col("n_split")
          - col("n_lang").cast("double") / col("n_total"), 6).as("dev"))
      .orderBy("split", "lang")
  }

  val splitBalanceAuditSql: String =
    s"""WITH a AS (
       |  SELECT lang,
       |         CASE WHEN b < 5 THEN 'test'
       |              WHEN b < 10 THEN 'val' ELSE 'train' END AS split,
       |         n_tokens
       |  FROM (SELECT lang,
       |               CAST(CAST('0x' || substr(md5(
       |                 md5(trim(regexp_replace(lower(text), '\\W+', ' ', 'g')))
       |               ), 1, 15) AS UBIGINT) % 100 AS INTEGER) AS b,
       |               CAST(len(list_filter(string_split_regex(lower(text), '\\W+'),
       |                                    x -> length(x) > 0)) AS BIGINT) AS n_tokens
       |        FROM documents)),
       |sl AS (SELECT split, lang, count(*) AS n_docs,
       |              CAST(sum(n_tokens) AS BIGINT) AS tokens
       |       FROM a GROUP BY 1, 2),
       |s AS (SELECT split, count(*) AS n_split FROM a GROUP BY 1),
       |l AS (SELECT lang, count(*) AS n_lang FROM a GROUP BY 1),
       |tot AS (SELECT count(*) AS n_total FROM a),
       |grid AS (SELECT s.split, l.lang FROM s CROSS JOIN l)
       |SELECT g.split, g.lang,
       |       coalesce(sl.n_docs, 0) AS n_docs,
       |       coalesce(sl.tokens, 0) AS tokens,
       |       ${Det.rSql(
          "CAST(coalesce(sl.n_docs, 0) AS DOUBLE) / s.n_split", 6)} AS split_share,
       |       ${Det.rSql("CAST(l.n_lang AS DOUBLE) / tot.n_total", 6)} AS corpus_share,
       |       ${Det.rSql(
          "CAST(coalesce(sl.n_docs, 0) AS DOUBLE) / s.n_split" +
            " - CAST(l.n_lang AS DOUBLE) / tot.n_total", 6)} AS dev
       |FROM grid g
       |LEFT JOIN sl ON sl.split = g.split AND sl.lang = g.lang
       |JOIN s ON s.split = g.split
       |JOIN l ON l.lang = g.lang
       |CROSS JOIN tot
       |ORDER BY g.split, g.lang""".stripMargin

  // --------------------------------------------------------------------
  // Semantic decontamination (embedding-space train→eval leak audit)
  // --------------------------------------------------------------------

  private[queries] val SemDecontTau = 0.47
  private val SemDecontTopN = 100

  /** SEMANTIC DECONTAMINATION — the eval-integrity gate verbatim
    * `contamination_check` cannot express: a PARAPHRASED eval document
    * embedded in train shares no 8-token shingle (so the fingerprint
    * audit scores it 0) and has a different content hash (so
    * [[leakageSafeSplit]] legitimately assigns the two docs to
    * different splits) — but its embedding sits within τ of the train
    * copy, and training on it still contaminates the eval (the
    * SemDeDup-style leak, Abbas et al. 2023). This audit finds exactly
    * those: for every eval-split (test/val) document, its nearest
    * same-IVF-cell train document by 4dp-rounded cosine, flagged
    * `leaked` iff cosine ≥ τ, with the count of train docs within τ
    * (`n_dups`) and the per-split leak mass (docs + token mass the
    * leaked evals represent) joined on.
    *
    * Output is the top-[[SemDecontTopN]] eval docs by nearest-train
    * cosine (desc, then eval_doc — a total order), WITH the flag as a
    * column — never a flagged-only frame that silently goes empty on a
    * clean corpus (the thresholded-detector rule); CurationSpec injects
    * a paraphrase pair and watches the flag flip where the shingle
    * audit stays at zero.
    *
    * Scale: splits are a pure hash of content (no assignment table);
    * the candidate stage is the memoized IVF coarse quantizer
    * ([[Similarity.ivfAssigned]] — the `semdedup` substrate) with pairs
    * generated ONLY within a cell, cross-split: Σ_cells |eval∩cell|·
    * |train∩cell| ≈ 0.09·Σ|cell|² ≈ n^1.5 at derived cell counts, vs
    * the n² cross join. Cosines are scored INSIDE the cell join where
    * the exchange already collocated the vectors, and the frame
    * projects to narrow (split, ids, cosine) rows before the per-eval
    * window (the r8 array-payload rule); the window partitions by
    * eval_doc (corpus-cardinality key, never SinglePartition); the
    * per-split mass is a ≤|splits|-row broadcast join-back. Hot-cell
    * skew treatment is inherited from semdedup (secondary-hash split,
    * documented there). */
  def semanticDecontamination(spark: SparkSession, sfDir: String,
                              tau: Double = SemDecontTau): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val evalSide = evalSideMaterialized(spark, sfDir)
    val trainSide = Similarity.ivfAssigned(spark, sfDir)
      .join(Similarity.vecs(spark, sfDir), "vec_id")
      .join(splitAssigned(spark, sfDir).select(col("doc_id"), col("split")),
        col("vec_id") === col("doc_id"))
      .filter(col("split") === "train")
      .select(col("cell"), col("doc_id").as("train_doc"),
        col("v").as("xt"), col("norm").as("nt"))
    val scored = evalSide.join(trainSide, "cell")
      .select(col("split"), col("eval_doc"), col("n_tokens"),
        col("train_doc"),
        Det.r(graft.functions.VectorFunctions.array_dot(col("xe"), col("xt"))
          / (col("ne") * col("nt")), 4).as("cosine"))
    val wRank = Window.partitionBy("eval_doc")
      .orderBy(col("cosine").desc, col("train_doc").asc)
    val wAll = Window.partitionBy("eval_doc")
    val led = scored
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n_dups",
        sum(when(col("cosine") >= tau, 1L).otherwise(0L)).over(wAll))
      .filter(col("rn") === 1)
      .withColumn("leaked", col("cosine") >= tau)
      .drop("rn")
    val mass = led.groupBy("split").agg(
      sum(when(col("leaked"), 1L).otherwise(0L)).as("split_leaked_docs"),
      sum(when(col("leaked"), col("n_tokens")).otherwise(0L))
        .as("split_leaked_tokens"))
    led.join(broadcast(mass), "split")
      .select(col("split"), col("eval_doc"), col("n_tokens"),
        col("train_doc"), col("cosine"), col("n_dups"), col("leaked"),
        col("split_leaked_docs"), col("split_leaked_tokens"))
      .orderBy(col("cosine").desc, col("eval_doc").asc)
      .limit(SemDecontTopN)
  }

  /** DuckDB twin of [[semanticDecontamination]] — composes the
    * [[Similarity.ivfChainSql]] assignment (`fin`/`nv`, the semdedup
    * pattern) with the [[leakageSafeSplit]] content-hash split CTEs
    * (renamed `sdh`/`sda` — the chain's own `tr` / `cand` names are
    * taken) and the cross-split within-cell pair join. */
  def semanticDecontaminationSqlFor(tau: Double): String =
    s"""WITH ${Similarity.ivfChainSql},
       |sdh AS (
       |  SELECT doc_id,
       |         md5(trim(regexp_replace(lower(text), '\\W+', ' ', 'g'))) AS ch,
       |         CAST(len(list_filter(string_split_regex(lower(text), '\\W+'),
       |                              x -> length(x) > 0)) AS BIGINT) AS n_tokens
       |  FROM documents),
       |sda AS (
       |  SELECT doc_id, n_tokens,
       |         CASE WHEN b < 5 THEN 'test'
       |              WHEN b < 10 THEN 'val' ELSE 'train' END AS split
       |  FROM (SELECT sdh.*,
       |               CAST(CAST('0x' || substr(md5(ch), 1, 15) AS UBIGINT)
       |                    % 100 AS INTEGER) AS b
       |        FROM sdh)),
       |sd AS (SELECT a.doc_id, a.split, a.n_tokens, f.cell, n.v, n.norm
       |       FROM sda a
       |       JOIN fin f ON a.doc_id = f.vec_id
       |       JOIN nv n ON n.vec_id = a.doc_id),
       |sde AS (SELECT * FROM sd WHERE split <> 'train'),
       |sdt AS (SELECT doc_id AS train_doc, cell, v, norm
       |        FROM sd WHERE split = 'train'),
       |sc AS (
       |  SELECT e.split, e.doc_id AS eval_doc, e.n_tokens, t.train_doc,
       |         CAST(floor(list_dot_product(e.v, t.v) / (e.norm * t.norm)
       |                    * 10000 + 0.5) AS DOUBLE) / 10000 AS cosine
       |  FROM sde e JOIN sdt t ON e.cell = t.cell),
       |led AS (
       |  SELECT split, eval_doc, n_tokens, train_doc, cosine,
       |         CAST(n_dups AS BIGINT) AS n_dups, cosine >= $tau AS leaked
       |  FROM (SELECT sc.*,
       |               row_number() OVER (PARTITION BY eval_doc
       |                  ORDER BY cosine DESC, train_doc) AS rn,
       |               sum(CASE WHEN cosine >= $tau THEN 1 ELSE 0 END)
       |                 OVER (PARTITION BY eval_doc) AS n_dups
       |        FROM sc)
       |  WHERE rn = 1),
       |mass AS (
       |  SELECT split,
       |         CAST(sum(CASE WHEN leaked THEN 1 ELSE 0 END) AS BIGINT)
       |           AS split_leaked_docs,
       |         CAST(sum(CASE WHEN leaked THEN n_tokens ELSE 0 END) AS BIGINT)
       |           AS split_leaked_tokens
       |  FROM led GROUP BY split)
       |SELECT l.split, l.eval_doc, l.n_tokens, l.train_doc, l.cosine,
       |       l.n_dups, l.leaked, m.split_leaked_docs, m.split_leaked_tokens
       |FROM led l JOIN mass m USING (split)
       |ORDER BY l.cosine DESC, l.eval_doc
       |LIMIT $SemDecontTopN""".stripMargin

  val semanticDecontaminationSql: String =
    semanticDecontaminationSqlFor(SemDecontTau)

  private val DecontDeltaMod = 10L

  /** INCREMENTAL DECONTAMINATION GATE — the nightly-ingest twin of
    * [[semanticDecontamination]]: before a NEW train shard (modeled as
    * the docs with `doc_id % deltaMod == deltaMod−1`, the
    * [[Dedup.dedupDelta]] convention) is admitted to the corpus, audit
    * it against the FROZEN eval set. One row per incoming shard doc:
    * its nearest same-IVF-cell eval document (null if its cell holds
    * none — admissible by construction), the count of eval docs within
    * τ, the `rejected` flag, and the shard-level rollup (docs checked /
    * rejected) broadcast onto every row. Direction is REVERSED from the
    * full audit on purpose: the full audit asks "which eval docs are
    * compromised", the gate asks "which incoming train docs would
    * compromise them" — the answer you need BEFORE the shard lands.
    *
    * Scale: cost is |delta| × E|cell ∩ eval| — proportional to the
    * SHARD, not the corpus (the full audit's Σ|cell|² term has no
    * |corpus-train| factor here); cells and split assignment are the
    * same memoized substrate; the rollup is a 1-row broadcast. */
  def semanticDecontaminationDelta(spark: SparkSession, sfDir: String,
                                   tau: Double = SemDecontTau,
                                   deltaMod: Long = DecontDeltaMod): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    require(deltaMod > 1, s"deltaMod must be > 1, got $deltaMod")
    val evalSide = evalSideMaterialized(spark, sfDir)
      .select(col("cell"), col("eval_doc"), col("xe"), col("ne"))
    val shard = Similarity.ivfAssigned(spark, sfDir)
      .join(Similarity.vecs(spark, sfDir), "vec_id")
      .join(splitAssigned(spark, sfDir)
        .select(col("doc_id"), col("split"), col("n_tokens")),
        col("vec_id") === col("doc_id"))
      .filter(col("split") === "train" &&
        col("doc_id") % deltaMod === deltaMod - 1)
      .select(col("cell"), col("doc_id").as("train_doc"), col("n_tokens"),
        col("v").as("xt"), col("norm").as("nt"))
    val led = decontLedger(shard, evalSide, tau)
    val roll = led.agg(count(lit(1)).as("shard_docs"),
      sum(when(col("rejected"), 1L).otherwise(0L)).as("shard_rejected"))
    led.crossJoin(broadcast(roll))
      .orderBy(col("cosine").desc_nulls_last, col("train_doc").asc)
      .limit(SemDecontTopN)
  }

  /** Shared per-doc ledger of the two ingest gates: score each shard doc
    * (cell, train_doc, n_tokens, xt, nt) against its cell's eval slice,
    * keep the nearest eval neighbor + the within-τ count + the rejected
    * flag; LEFT join so candidate-less docs stay admissible rows. */
  private def decontLedger(shard: DataFrame, evalSide: DataFrame,
                           tau: Double): DataFrame = {
    val scored = shard.join(evalSide, "cell")
      .select(col("train_doc"),
        col("eval_doc"),
        Det.r(graft.functions.VectorFunctions.array_dot(col("xt"), col("xe"))
          / (col("nt") * col("ne")), 4).as("cosine"))
    val wRank = Window.partitionBy("train_doc")
      .orderBy(col("cosine").desc, col("eval_doc").asc)
    val wAll = Window.partitionBy("train_doc")
    val nearest = scored
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n_eval_dups",
        sum(when(col("cosine") >= tau, 1L).otherwise(0L)).over(wAll))
      .filter(col("rn") === 1)
      .drop("rn")
    shard.select("train_doc", "n_tokens")
      .join(nearest, Seq("train_doc"), "left")
      .select(col("train_doc"), col("n_tokens"), col("eval_doc"),
        col("cosine"), coalesce(col("n_eval_dups"), lit(0L)).as("n_eval_dups"),
        coalesce(col("cosine") >= tau, lit(false)).as("rejected"))
  }

  /** THE LIVE INGEST GATE — the foreachBatch body of the STREAMING
    * decontamination gate: score an arbitrary batch of incoming docs
    * (doc_id, text, embedding) against the corpus's FROZEN eval split,
    * placing each incoming embedding in its IVF cell with the memoized
    * coarse quantizer. No state store: the eval side is static (the
    * split freezes at train time), so the live twin is a stream-static
    * join per micro-batch — StreamingSpec pins a multi-micro-batch
    * replay of the [[semanticDecontaminationDelta]] shard row-equal to
    * the batch gate's ledger.
    *
    * Scale: per-batch cost is |batch| × E|cell ∩ eval|; the quantizer is
    * a ≤cells×dim expression constant; the eval side is the persisted
    * cell-bucketed sink ([[evalSideMaterialized]]), so the per-batch
    * join is EXCHANGE-FREE on the static side — only the micro-batch
    * shuffles (or broadcasts, when small enough for AQE to flip the
    * join). Cell placement is the native whole-stage-codegen argmin
    * expression [[graft.functions.NearestCell]] (r12 verdict #3): the
    * centroid matrix rides into the generated code as ONE reference
    * object and the per-row loop replicates
    * [[Similarity.IvfKernel.nearestCell]] bit-for-bit (elementwise
    * v/‖v‖ first, ascending multiply-accumulate, strict-> first-wins;
    * an all-zero vector NaN-floods every score on both paths and lands
    * in cell 0), deleting the Dataset-encoder round trip that was the
    * only object-churn stage on the live hot path — the same class of
    * win the r12 edge build paid 7× for (PERF.md r12 verdict #3 holds
    * the A/B against the replaced map path). `decont_gate_replay`
    * hash-gates this exact path against DuckDB. */
  def decontGateBatch(spark: SparkSession, sfDir: String,
                      incoming: DataFrame,
                      tau: Double = SemDecontTau): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val evalSide = evalSideMaterialized(spark, sfDir)
      .select(col("cell"), col("eval_doc"), col("xe"), col("ne"))
    val dot = graft.functions.VectorFunctions.array_dot _
    val cents = Similarity.ivfCentroids(spark, sfDir)
    val placed = incoming
      .select(col("doc_id").as("train_doc"),
        size(TextAnalysis.toks(col("text"))).cast("long").as("n_tokens"),
        col("embedding").cast("array<double>").as("xt"))
      .withColumn("nt", sqrt(dot(col("xt"), col("xt"))))
      .withColumn("cell",
        Similarity.cellArgminCol(cents, col("xt"), col("nt")))
      .select(col("cell"), col("train_doc"), col("n_tokens"),
        col("xt"), col("nt"))
    decontLedger(placed, evalSide, tau)
  }

  /** Shared CTE chain through the per-doc `led` ledger — composed by
    * both the delta-gate oracle (adds the rollup + top-N) and the
    * replay oracle (emits the raw ledger). */
  private def decontDeltaCtes(tau: Double, deltaMod: Long): String =
    s"""${Similarity.ivfChainSql},
       |sdh AS (
       |  SELECT doc_id,
       |         md5(trim(regexp_replace(lower(text), '\\W+', ' ', 'g'))) AS ch,
       |         CAST(len(list_filter(string_split_regex(lower(text), '\\W+'),
       |                              x -> length(x) > 0)) AS BIGINT) AS n_tokens
       |  FROM documents),
       |sda AS (
       |  SELECT doc_id, n_tokens,
       |         CASE WHEN b < 5 THEN 'test'
       |              WHEN b < 10 THEN 'val' ELSE 'train' END AS split
       |  FROM (SELECT sdh.*,
       |               CAST(CAST('0x' || substr(md5(ch), 1, 15) AS UBIGINT)
       |                    % 100 AS INTEGER) AS b
       |        FROM sdh)),
       |sd AS (SELECT a.doc_id, a.split, a.n_tokens, f.cell, n.v, n.norm
       |       FROM sda a
       |       JOIN fin f ON a.doc_id = f.vec_id
       |       JOIN nv n ON n.vec_id = a.doc_id),
       |sde AS (SELECT doc_id AS eval_doc, cell, v, norm
       |        FROM sd WHERE split <> 'train'),
       |shard AS (SELECT doc_id AS train_doc, n_tokens, cell, v, norm
       |          FROM sd WHERE split = 'train'
       |            AND doc_id % $deltaMod = $deltaMod - 1),
       |sc AS (
       |  SELECT t.train_doc, e.eval_doc,
       |         CAST(floor(list_dot_product(t.v, e.v) / (t.norm * e.norm)
       |                    * 10000 + 0.5) AS DOUBLE) / 10000 AS cosine
       |  FROM shard t JOIN sde e ON t.cell = e.cell),
       |near AS (
       |  SELECT train_doc, eval_doc, cosine, CAST(n_eval_dups AS BIGINT) AS n_eval_dups
       |  FROM (SELECT sc.*,
       |               row_number() OVER (PARTITION BY train_doc
       |                  ORDER BY cosine DESC, eval_doc) AS rn,
       |               sum(CASE WHEN cosine >= $tau THEN 1 ELSE 0 END)
       |                 OVER (PARTITION BY train_doc) AS n_eval_dups
       |        FROM sc)
       |  WHERE rn = 1),
       |led AS (
       |  SELECT s.train_doc, s.n_tokens, n.eval_doc, n.cosine,
       |         coalesce(n.n_eval_dups, 0) AS n_eval_dups,
       |         coalesce(n.cosine >= $tau, false) AS rejected
       |  FROM shard s LEFT JOIN near n USING (train_doc))""".stripMargin

  /** DuckDB twin of [[semanticDecontaminationDelta]] — the full audit's
    * CTE chain with the shard filter on the train side, a LEFT join so
    * candidate-less shard docs stay in the ledger, and the 1-row shard
    * rollup cross-joined on. */
  def semanticDecontaminationDeltaSqlFor(tau: Double, deltaMod: Long): String =
    s"""WITH ${decontDeltaCtes(tau, deltaMod)},
       |roll AS (
       |  SELECT count(*) AS shard_docs,
       |         CAST(sum(CASE WHEN rejected THEN 1 ELSE 0 END) AS BIGINT)
       |           AS shard_rejected
       |  FROM led)
       |SELECT l.train_doc, l.n_tokens, l.eval_doc, l.cosine, l.n_eval_dups,
       |       l.rejected, r.shard_docs, r.shard_rejected
       |FROM led l CROSS JOIN roll r
       |ORDER BY l.cosine DESC NULLS LAST, l.train_doc
       |LIMIT $SemDecontTopN""".stripMargin

  val semanticDecontaminationDeltaSql: String =
    semanticDecontaminationDeltaSqlFor(SemDecontTau, DecontDeltaMod)

  /** THE LIVE GATE, ORACLE-GATED — [[decontGateBatch]] (the exact entry
    * point the streaming sink calls per micro-batch) run over the delta
    * shard as its incoming frame, so the gate KERNEL itself — incoming
    * tokenization, quantizer cell placement from the raw embedding, the
    * shared ledger — is hash-compared against DuckDB through the same
    * code path production uses, not just spec-pinned equal to the batch
    * twin. Full per-doc ledger out (no rollup, no top-N), ordered
    * (cosine DESC NULLS LAST, train_doc). */
  def decontGateReplay(spark: SparkSession, sfDir: String,
                       tau: Double = SemDecontTau,
                       deltaMod: Long = DecontDeltaMod): DataFrame = {
    require(deltaMod > 1, s"deltaMod must be > 1, got $deltaMod")
    val incoming = splitAssigned(spark, sfDir)
      .filter(col("split") === "train" &&
        col("doc_id") % deltaMod === deltaMod - 1)
      .select("doc_id")
      .join(Tables.documents(spark, sfDir).select("doc_id", "text"), "doc_id")
      .join(Tables.embeddings(spark, sfDir),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    decontGateBatch(spark, sfDir, incoming, tau)
      .orderBy(col("cosine").desc_nulls_last, col("train_doc").asc)
  }

  /** DuckDB twin — the shared `led` chain, raw (the rollup/top-N belong
    * to the delta gate's readout, not the kernel). */
  def decontGateReplaySqlFor(tau: Double, deltaMod: Long): String =
    s"""WITH ${decontDeltaCtes(tau, deltaMod)}
       |SELECT train_doc, n_tokens, eval_doc, cosine, n_eval_dups, rejected
       |FROM led
       |ORDER BY cosine DESC NULLS LAST, train_doc""".stripMargin

  val decontGateReplaySql: String =
    decontGateReplaySqlFor(SemDecontTau, DecontDeltaMod)

  // --------------------------------------------------------------------
  // Registration
  // --------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_shuffle" -> ((s, d) => corpusShuffle(s, d)),
    "token_budget_sample" -> ((s, d) => tokenBudgetSample(s, d)),
    "weighted_sample_pps" -> ((s, d) => weightedSamplePps(s, d)),
    "leakage_safe_split" -> ((s, d) => leakageSafeSplit(s, d)),
    "split_balance_audit" -> ((s, d) => splitBalanceAudit(s, d)),
    "semantic_decontamination" -> ((s, d) => semanticDecontamination(s, d)),
    "semantic_decontamination_delta" ->
      ((s, d) => semanticDecontaminationDelta(s, d)),
    "decont_gate_replay" -> ((s, d) => decontGateReplay(s, d)))

  val oracles: Map[String, String] = Map(
    "corpus_shuffle" -> corpusShuffleSql,
    "token_budget_sample" -> tokenBudgetSampleSql,
    "weighted_sample_pps" -> weightedSamplePpsSql,
    "leakage_safe_split" -> leakageSafeSplitSql,
    "split_balance_audit" -> splitBalanceAuditSql,
    "semantic_decontamination" -> semanticDecontaminationSql,
    "semantic_decontamination_delta" -> semanticDecontaminationDeltaSql,
    "decont_gate_replay" -> decontGateReplaySql)
}
