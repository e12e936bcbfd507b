package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Substrate, Tables}

/** Deduplication family over `documents` — the training-data-pipeline
  * operators a 100 TB corpus needs (exact, MinHash+LSH, SimHash, n-gram
  * Jaccard; embedding-cosine near-dup lives with the vector ops but is
  * registered here as dedup output).
  *
  * Shared text model: tokens = non-empty `\W+` splits of lower(text);
  * shingles = distinct 3-token windows joined by single spaces. Both are
  * reproduced verbatim in the DuckDB oracles.
  *
  * Determinism: token hashes for SimHash derive from md5 hex (identical
  * across engines); MinHash signatures are one-permutation hashing over
  * splitmix64-mixed 48-bit md5 shingle hashes (no DuckDB twin — but the
  * *output* is exact-Jaccard-verified pairs, which DuckDB reproduces by
  * brute force at sf0.01).
  * Jaccard/cosine are single int-int or identical-order double ops, so
  * exact hash-compare holds.
  *
  * Scale: signature construction runs in per-doc JIT'd kernels (no
  * explode shuffle); candidate generation is banded-LSH bucket joins or
  * PPJoin prefix joins, verified per pair — cost tracks true-duplicate
  * density, not n². The one exact-all-pairs operator (embedding cosine)
  * partitions its n² space into a bounded block grid.
  */
object Dedup {

  /** Distinct 3-token shingles per doc, as a mapPartitions KERNEL: the
    * Column formulation (split + zip_with×2 + array_distinct) runs its
    * higher-order lambdas through the interpreter per element; the kernel
    * is one JIT'd pass. Downstream consumers (jaccard sizes, OPH minhash)
    * are set-order-insensitive, and the construction matches the oracles'
    * CTE: lower → \W+ split → non-empty → 3-windows space-joined →
    * first-occurrence distinct. */
  private def docShingles(spark: SparkSession, sfDir: String): DataFrame =
    docShinglesOf(spark, Tables.documents(spark, sfDir))

  /** [[docShingles]] over a caller-supplied docs frame — the live dedup
    * gate shingles its incoming micro-batch through the same kernel. */
  private def docShinglesOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = text.toLowerCase(java.util.Locale.ROOT)
            .split("\\W+").filter(_.nonEmpty)
          val seen = new java.util.LinkedHashSet[String]()
          var i = 0
          while (i + 2 < toks.length) {
            seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
            i += 1
          }
          (id, seen.toArray(new Array[String](seen.size)).toSeq)
        }
      }.toDF("doc_id", "sh")
  }

  /** DuckDB twin of [[docShingles]] as a FROM-clause fragment. */
  private val shinglesSqlCte: String =
    """sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, greatest(len(t)-1, 1)),
      |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM (SELECT doc_id,
      |               list_filter(string_split_regex(lower(text), '\W+'),
      |                           x -> length(x) > 0) AS t
      |        FROM documents))""".stripMargin

  /** Sorted distinct 48-bit md5 hashes of each doc's shingles — the
    * VERIFICATION representation. Intersecting 8-byte longs via a JIT'd
    * sorted-merge beats interpreted string-array intersection ~5× per
    * pair and ships ~3× less data into the verify join; both engines
    * hash identically (first-12-hex-of-md5, the portable construction
    * shared with simhash), so jaccard over the hashed space is the same
    * exact cross-engine quantity (an intra-pair collision — ~n²/2⁴⁸ —
    * would affect both engines identically).
    *
    * This is the corpus-wide frame behind the write-once session
    * sink (r13 OPTIMIZATION, guide §1.2 step 1 — don't recompute a
    * shared substrate per consumer): EIGHT registered queries
    * (minhash/threshold-curve/containment ×3/ngram-jaccard/delta/
    * geometry) each re-ran tokenize → 3-shingle → md5 → sort over the
    * whole corpus, because the session `.cache()` is dropped between
    * bench entries. The (doc_id, hs) frame is a pure function of the
    * corpus, so it is substrate exactly like the kNN edge sink and the
    * co-purchase edge sink ([[Substrate.materialize]] precedent): first
    * consumer pays the kernel once, every later consumer gets a plain
    * FileSourceScan of narrow (id, sorted-long-array) rows. Under
    * `SPARK_GRAFT_SUBSTRATE_DIR` it persists cross-session like the
    * rest of the substrate family. Values are identical by
    * construction (same kernel, parquet round-trip of longs is exact),
    * so every consumer's oracle hash is unchanged. */
  private def corpusShingleHashes(spark: SparkSession,
                                  sfDir: String): DataFrame =
    Substrate.materialize(spark, "graft_shinglehash_", sfDir)(
      docShingleHashesRaw(spark, docShingles(spark, sfDir)))

  /** The shingle-hash kernel over a caller-supplied shingled frame —
    * the live dedup gate hashes its incoming micro-batches through the
    * same code (per-batch frames must never land in a session sink or
    * cache). */
  private def docShingleHashesRaw(spark: SparkSession,
                                  ds: DataFrame): DataFrame = {
    import spark.implicits._
    val hashed = ds.select(col("doc_id"), col("sh")).as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, sh) =>
          val set = new java.util.TreeSet[java.lang.Long]()
          sh.foreach { s =>
            md.reset()
            val d = md.digest(s.getBytes("UTF-8"))
            var h = 0L
            var k = 0
            while (k < 6) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
            set.add(h)
          }
          val arr = new Array[Long](set.size)
          var i = 0
          set.forEach { v => arr(i) = v; i += 1 }
          (id, arr.toSeq)
        }
      }.toDF("doc_id", "hs")
    hashed
  }

  /** DuckDB twin of [[docShingleHashes]] (requires the `sh` CTE).
    * Shingle-less docs are excluded: they can never share a shingle, and
    * keeping them would make the all-pairs oracle divide 0/0 → NaN,
    * which DuckDB orders ABOVE every threshold — a blank-blank pair the
    * Spark side (which requires a shared shingle to even be a candidate)
    * can never emit. */
  private val shingleHashSqlCte: String =
    """hv AS (SELECT doc_id,
      |              list_sort(list_distinct(list_transform(sh,
      |                s -> CAST(CAST('0x' || substr(md5(s), 1, 12) AS UBIGINT) AS BIGINT)))) AS hs
      |       FROM sh WHERE len(sh) > 0)""".stripMargin

  private val VerifyChunkPairs = 5_000_000L  // candidate pairs per verify slice

  /** `graft.verify.broadcastMaxBytes` from the session conf (default
    * 512 MB): the largest build side the verify and anti-join paths
    * broadcast. */
  private[queries] def broadcastMaxBytes(spark: SparkSession): Long =
    spark.conf.getOption("graft.verify.broadcastMaxBytes")
      .map(_.toLong).getOrElse(512L << 20)

  /** Exact verification over hashed shingle sets: join each candidate
    * pair to both hash arrays, count the intersection with a two-pointer
    * merge (arrays are sorted), filter on the RAW jaccard (the same
    * int/int IEEE division in both engines, and the quantity the prefix/
    * length filters are necessary conditions FOR — filtering the rounded
    * value would admit raw-j slightly below t that the candidate filters
    * legitimately pruned), and emit the 6-dp-rounded value (Det
    * discipline).
    *
    * Memory shape (what made the 50× adversarial probe fail before): the
    * naive double sort-merge join ships BOTH hash arrays with every
    * candidate row — at 10⁸ candidates × ~400 B/array that is tens of GB
    * of shuffle for what is per-pair-local work. Two regimes instead:
    *  - **hv fits an executor** (estimated bytes ≤
    *    `graft.verify.broadcastMaxBytes`, default 512 MB ≈ 1M docs):
    *    force BROADCAST hash joins on both sides — candidates stream
    *    map-side through the merge kernel and no array ever shuffles.
    *  - **above**: CHUNKED verification — candidates persist
    *    (memory-and-disk) and split into ≤512 hash-salted slices of ≤5M
    *    pairs, each its own join stage, so per-stage sort/join state is
    *    bounded by a slice regardless of total candidate count (the
    *    scheduler interleaves slice stages; what matters for memory is
    *    the per-stage bound, with spill-to-disk underneath). The DISK
    *    bill is O(candidates · array bytes): the second join shuffles
    *    each pair with its first array attached. On a cluster that
    *    shuffle is spread across executors (and only corpora past ~1M
    *    docs reach this regime at all); on ONE node it is the binding
    *    resource — the forced-chunk 100× probe (4·10⁸ adversarial
    *    candidates ≈ 180 GB of intermediate) exceeded the sandbox's
    *    single-node disk, while the default broadcast regime covers the
    *    same corpus in 197 s (PERF.md).
    *    Exactness is never traded:
    *    a frequency-capped prefix (the other standard move) silently
    *    drops true pairs on dense corpora, which would break this
    *    operator's guaranteed-exact contract — on corpora where even
    *    chunked exact verification is too slow, simhash/minhash are the
    *    documented in-family scale path. */
  private def verifyJaccard(spark: SparkSession, cands: DataFrame,
                            hv: DataFrame, t: Double): DataFrame = {
    import spark.implicits._
    def kernel(joined: DataFrame): DataFrame = joined
      .select(col("doc_a"), col("doc_b"), col("hs_a"), col("hs_b"))
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .mapPartitions { it =>
        it.flatMap { case (a, b, ha, hb) =>
          val x = ha.toArray; val y = hb.toArray
          var i = 0; var j = 0; var c = 0
          while (i < x.length && j < y.length) {
            if (x(i) == y(j)) { c += 1; i += 1; j += 1 }
            else if (x(i) < y(j)) i += 1
            else j += 1
          }
          val raw = c.toDouble / (x.length + y.length - c)
          if (raw >= t)
            Some((a, b, c, math.floor(raw * 1000000 + 0.5) / 1000000))
          else None
        }
      }.toDF("doc_a", "doc_b", "n_common", "jaccard")
    def joined(c: DataFrame, bc: Boolean): DataFrame = {
      val a = hv.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
      val b = hv.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
      c.join(if (bc) broadcast(a) else a, "doc_a")
        .join(if (bc) broadcast(b) else b, "doc_b")
    }
    // one small agg on the cached hv sizes the broadcast decision
    val st = hv.agg(count(lit(1)).as("n"),
      coalesce(sum(size(col("hs")).cast("long")), lit(0L)).as("tot")).head()
    val hvBytes = st.getLong(1) * 8L + st.getLong(0) * 32L
    if (hvBytes <= broadcastMaxBytes(spark)) kernel(joined(cands, bc = true))
    else {
      val persisted = cands.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = persisted.count()
      val slices = math.min(512L,
        math.max(1L, (n + VerifyChunkPairs - 1) / VerifyChunkPairs)).toInt
      (0 until slices).map { i =>
        kernel(joined(persisted.filter(
          pmod(xxhash64(col("doc_a"), col("doc_b")), lit(slices)) === i), bc = false))
      }.reduce(_ union _)
    }
  }

  // --------------------------------------------------------------------
  // Exact dedup
  // --------------------------------------------------------------------

  /** Exact (normalized) dedup: md5 over whitespace-normalized lower text;
    * canonical row = min doc_id per hash. One hash-shuffle; at 100 TB the
    * md5 column prunes to 16 bytes/row before the shuffle. */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\W+", " "))).as("content_hash"))
    val groups = hashed.groupBy("content_hash")
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
    hashed.join(groups, "content_hash")
      .select(col("doc_id"), col("content_hash"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"),
        col("n_copies"))
      .orderBy("doc_id")
  }

  val exactDedupSql: String =
    """WITH h AS (SELECT doc_id,
      |                  md5(trim(regexp_replace(lower(text), '\W+', ' ', 'g'))) AS content_hash
      |           FROM documents),
      |     g AS (SELECT content_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
      |           FROM h GROUP BY content_hash)
      |SELECT doc_id, h.content_hash, doc_id = canonical_id AS is_canonical, n_copies
      |FROM h JOIN g ON h.content_hash = g.content_hash
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Paragraph-granularity exact dedup (CCNet/Gopher-style)
  // --------------------------------------------------------------------

  private val ParaTokens = 16

  /** Paragraph-granularity dedup — the CCNet/Gopher pipeline step that
    * [[exactDedup]]'s whole-document hash can't express: boilerplate
    * paragraphs (headers, navboxes, license blurbs) repeat across
    * millions of otherwise-distinct pages, and dropping the REPEATED
    * PARAGRAPHS while keeping their host documents is where most of the
    * dup mass in a web corpus actually goes. The fixture text has no
    * newline boundaries, so the paragraph boundary is derived exactly
    * like [[TextAnalysis.docChunk]] derives chunks: consecutive
    * [[ParaTokens]]-token windows of the token stream (last may be
    * short). A paragraph instance is RETAINED iff it is the first
    * occurrence of its md5 corpus-wide, "first" = (doc_id, para_idx)
    * order — the same min-id canonicality rule the doc-level family
    * uses. Emits per-doc (n_paras, n_retained, retained_frac).
    *
    * Scale shape: the explode is ~n_tokens/16 rows per doc (linear,
    * skew-free — md5 keys are uniform); first-occurrence is a keyed
    * window over para_hash (ONE hash shuffle carrying 16-byte keys +
    * two ints, never the text) followed by the per-doc fold (second
    * shuffle on doc_id). No corpus-sized state, no broadcast, nothing
    * grows super-linearly at 100 TB. */
  def paraDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val first = row_number().over(
      Window.partitionBy("para_hash").orderBy("doc_id", "para_idx"))
    paraHashes(spark, sfDir)
      .withColumn("retained", (first === 1).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"), sum("retained").as("n_retained"))
      .select(col("doc_id"), col("n_paras"), col("n_retained"),
        Det.r(col("n_retained").cast("double") / col("n_paras"), 6)
          .as("retained_frac"))
      .orderBy("doc_id")
  }

  /** Corpus-level readout of [[paraDedup]]: total paragraph instances,
    * distinct paragraphs, and the dup mass (fraction of instances that a
    * paragraph-dedup pass would drop) — the one-row health metric a
    * crawl pipeline alarms on. Same explode, two global folds. */
  def paraDedupStats(spark: SparkSession, sfDir: String): DataFrame =
    paraHashes(spark, sfDir)
      .agg(count(lit(1)).as("n_paras"),
        count_distinct(col("para_hash")).as("n_distinct"))
      // empty corpus: drop the keyless zero row before dup_mass divides
      // by n_paras=0 (both engines emit zero rows — the r9 empty sweep)
      .filter(col("n_paras") > 0)
      .select(col("n_paras"), col("n_distinct"),
        Det.r((col("n_paras") - col("n_distinct")).cast("double") /
          col("n_paras"), 6).as("dup_mass"))

  /** (doc_id, para_idx, para_hash) for every [[ParaTokens]]-token
    * paragraph window; md5 over the space-rejoined token slice. */
  private def paraHashes(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextAnalysis.toks(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"),
        posexplode(sequence(lit(0), col("n") - 1, lit(ParaTokens))))
      .select(col("doc_id"), col("pos").as("para_idx"),
        md5(concat_ws(" ", slice(col("t"), col("col") + 1, lit(ParaTokens))))
          .as("para_hash"))

  private val paraHashCtes: String =
    s"""d AS (SELECT doc_id,
       |             list_filter(string_split_regex(lower(text), '\\W+'),
       |                         x -> length(x) > 0) AS t
       |      FROM documents),
       |p AS (SELECT doc_id, CAST(g // $ParaTokens AS INT) AS para_idx,
       |             md5(array_to_string(list_slice(t, CAST(g + 1 AS INT),
       |                                            CAST(g + $ParaTokens AS INT)), ' ')) AS para_hash
       |      FROM (SELECT doc_id, t, unnest(range(0, len(t), $ParaTokens)) AS g
       |            FROM d WHERE len(t) > 0))""".stripMargin

  val paraDedupSql: String =
    s"""WITH $paraHashCtes,
       |r AS (SELECT doc_id,
       |             CASE WHEN row_number() OVER (PARTITION BY para_hash
       |                                          ORDER BY doc_id, para_idx) = 1
       |                  THEN 1 ELSE 0 END AS retained
       |      FROM p)
       |SELECT doc_id, count(*) AS n_paras,
       |       CAST(sum(retained) AS BIGINT) AS n_retained,
       |       ${Det.rSql("CAST(sum(retained) AS DOUBLE) / count(*)", 6)} AS retained_frac
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val paraDedupStatsSql: String =
    s"""WITH $paraHashCtes,
       |a AS (SELECT count(*) AS n_paras,
       |             count(DISTINCT para_hash) AS n_distinct
       |      FROM p)
       |SELECT n_paras, n_distinct,
       |       ${Det.rSql(
            "CAST(n_paras - n_distinct AS DOUBLE) / n_paras", 6)} AS dup_mass
       |FROM a WHERE n_paras > 0""".stripMargin

  // --------------------------------------------------------------------
  // Sliding-window exact substring dedup (Lee et al. style)
  // --------------------------------------------------------------------

  private val SubTokens = 16

  /** Sliding-window EXACT substring dedup — the granularity
    * [[paraDedup]] can't see: its windows are TILED at fixed
    * [[ParaTokens]] offsets, so a verbatim passage duplicated at an
    * UNALIGNED offset (boilerplate injected mid-document — the common
    * web-corpus case, and the Lee et al. "Deduplicating Training Data
    * Makes Language Models Better" motivation) never lines up with a
    * tile boundary and is invisible. Here a [[SubTokens]]-token window
    * slides at EVERY offset (stride 1), so any duplicated run of
    * ≥ [[SubTokens]] tokens is caught at all alignments. A window
    * instance is a DUP iff it is not the first occurrence of its md5
    * corpus-wide ("first" = (doc_id, offset) order — the [[paraDedup]]
    * retention rule); per doc, dup windows merge into maximal runs
    * (intervals are fixed-width and offset-sorted, so a run breaks
    * exactly when `s > prev_s + SubTokens`) and the run-length union is
    * the doc's removable-token mass. Emits per-doc (n_tokens,
    * n_windows, n_dup_windows, removable_tokens, removable_frac).
    *
    * Scale shape: the window frame is one row PER TOKEN (vs per-16 for
    * para) carrying only (md5, doc_id, offset) — ~28 bytes/token, the
    * price of exactness without a distributed suffix array. `stride` is
    * the SHIPPED escape hatch (r10 verdict #4) when that frame
    * dominates: windows enumerate at every stride-th offset on both
    * sides, shrinking the frame (and every downstream shuffle) to
    * ~1/stride at the exactness price that a duplicated run is caught
    * only when its alignments agree mod stride and it spans
    * ≥ SubTokens+stride−1 tokens (whole-doc dups — the injected-dup
    * probe shape — always align at 0, so their recall stays ~1 while
    * shifted boilerplate degrades gracefully; the probe measures both
    * the frame-cost drop and the mass recall vs stride 1). Two
    * shuffles — one on the md5 key (uniform by construction,
    * unskewable) for first-occurrence, one on doc_id for run merging —
    * then a doc_id-aligned join back to per-doc token counts. Run
    * merging is lag + a GROWING sum frame (incremental; the
    * events_rolling_24h lesson — no RANGE frame, no retraction); the
    * merge rule (break when s > prev_s + SubTokens) is stride-
    * independent. No corpus-sized state, nothing broadcast. */
  def substringDedup(spark: SparkSession, sfDir: String,
                     stride: Int = 1): DataFrame = {
    require(stride > 0, s"stride must be positive, got $stride")
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextAnalysis.toks(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
    val wins = docs.filter(col("n") >= SubTokens)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), col("n") - SubTokens, lit(stride))).as("s"))
      .select(col("doc_id"), col("s"),
        md5(concat_ws(" ", slice(col("t"), col("s") + 1, lit(SubTokens))))
          .as("h"))
    val firstW = Window.partitionBy("h").orderBy("doc_id", "s")
    val dup = wins
      .withColumn("rn", row_number().over(firstW))
      .filter(col("rn") > 1)
      .select("doc_id", "s")
    val byDoc = Window.partitionBy("doc_id").orderBy("s")
    val perDoc = dup
      .withColumn("ps", lag("s", 1).over(byDoc))
      .withColumn("nr",
        when(col("ps").isNull || col("s") > col("ps") + SubTokens, 1)
          .otherwise(0))
      .withColumn("run_id", sum("nr").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "run_id")
      .agg((max("s") - min("s") + SubTokens).cast("long").as("run_len"),
        count(lit(1)).as("nw"))
      .groupBy("doc_id")
      .agg(sum("run_len").as("removable_tokens"),
        sum("nw").as("n_dup_windows"))
    docs.select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        // sampled window count: ((n - SubTokens) div stride) + 1 when a
        // window fits; equals greatest(n - SubTokens + 1, 0) at stride 1
        when(col("n") >= SubTokens,
          expr(s"(n - $SubTokens) DIV $stride") + 1L)
          .otherwise(lit(0L)).cast("long").as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("removable_tokens"), lit(0L)).as("removable_tokens"),
        Det.r(coalesce(col("removable_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("removable_frac"))
      .orderBy("doc_id")
  }

  /** Arg-templated twin — `stride` mirrors [[substringDedup]]'s window
    * sampling (range step + the sampled n_windows count); stride 1 is
    * the registered oracle. */
  def substringDedupSqlFor(stride: Int): String =
    s"""WITH d AS (SELECT doc_id,
       |             list_filter(string_split_regex(lower(text), '\\W+'),
       |                         x -> length(x) > 0) AS t
       |      FROM documents),
       |dn AS (SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0),
       |w AS (SELECT doc_id, CAST(s AS BIGINT) AS s,
       |             md5(array_to_string(list_slice(t, CAST(s + 1 AS INT),
       |                                            CAST(s + $SubTokens AS INT)), ' ')) AS h
       |      FROM (SELECT doc_id, t, unnest(range(0, n - ${SubTokens - 1}, $stride)) AS s
       |            FROM dn WHERE n >= $SubTokens)),
       |dup AS (SELECT doc_id, s FROM (
       |          SELECT doc_id, s,
       |                 row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
       |          FROM w)
       |        WHERE rn > 1),
       |r AS (SELECT doc_id, s,
       |             CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
       |                    OR s > lag(s) OVER (PARTITION BY doc_id ORDER BY s) + $SubTokens
       |                  THEN 1 ELSE 0 END AS nr
       |      FROM dup),
       |rid AS (SELECT doc_id, s,
       |               sum(nr) OVER (PARTITION BY doc_id ORDER BY s
       |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |        FROM r),
       |runs AS (SELECT doc_id, run_id,
       |                max(s) - min(s) + $SubTokens AS run_len, count(*) AS nw
       |         FROM rid GROUP BY doc_id, run_id),
       |pd AS (SELECT doc_id AS pd_doc_id, CAST(sum(run_len) AS BIGINT) AS removable_tokens,
       |              CAST(sum(nw) AS BIGINT) AS n_dup_windows
       |       FROM runs GROUP BY doc_id)
       |SELECT dn.doc_id AS doc_id, CAST(n AS BIGINT) AS n_tokens,
       |       CAST(CASE WHEN n >= $SubTokens
       |                 THEN (n - $SubTokens) // $stride + 1
       |                 ELSE 0 END AS BIGINT) AS n_windows,
       |       COALESCE(n_dup_windows, 0) AS n_dup_windows,
       |       COALESCE(removable_tokens, 0) AS removable_tokens,
       |       ${Det.rSql("CAST(COALESCE(removable_tokens, 0) AS DOUBLE) / n", 6)} AS removable_frac
       |FROM dn LEFT JOIN pd ON dn.doc_id = pd.pd_doc_id
       |ORDER BY dn.doc_id""".stripMargin

  val substringDedupSql: String = substringDedupSqlFor(1)

  // --------------------------------------------------------------------
  // Pipeline funnel (the composed keep-mass readout)
  // --------------------------------------------------------------------

  /** The training-data FUNNEL: how many documents and tokens survive
    * each pipeline stage, composed in production order — raw →
    * quality-gated ([[TextAnalysis.qualityGateFrame]], same thresholds)
    * → exact-dedup canonical WITHIN the gated survivors (min doc_id per
    * normalized-text md5 — dedup after filtering, as pipelines run it)
    * → paragraph-dedup retained token mass over the canonical docs
    * (first md5 occurrence corpus-wide, the [[paraDedup]] rule). This
    * is the 4-row report a data team actually watches: where the corpus
    * mass goes. Each stage feeds the next, so the numbers are the
    * COMPOSED pipeline's, not per-stage-in-isolation.
    *
    * Scale shape (r14 single-substrate form — guide §1.2 step 1: the
    * old four union branches re-ran the scan→tokenize chain 4×, the
    * gate chain 3× and the ch groupBy+join 2×): ONE narrow scan
    * computes every per-doc stage attribute (token count, gate keep,
    * exact-dedup canonical flag via a min-over-ch window), one
    * conditional aggregate takes stages 0-2, and the paragraph leg
    * reuses the same exchange. Stage VALUES are unchanged — the gate
    * keep set, the min-doc_id-per-ch canonical set and the
    * first-md5-occurrence paragraph rule are identical row sets. Each
    * stage attribute adds at most one hash shuffle (ch / ph are
    * uniform md5 keys); the two 1-row aggregates are the sanctioned
    * pre-aggregated SinglePartition funnels. Nothing is collected,
    * cached, or broadcast. */
  def pipelineFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    // keep = the qualityGateFrame default rule, on the shared
    // repetition substrate
    val perDoc = TextAnalysis.repetitionBaseFrame(docs)
      .select(col("doc_id"), col("text"), col("t"),
        col("n_tokens").cast("long").as("n_toks"),
        TextAnalysis.qualityKeep().as("keep"))
      .withColumn("ch",
        md5(trim(regexp_replace(lower(col("text")), "\\W+", " "))))
      .withColumn("keep_id", min(when(col("keep"), col("doc_id")))
        .over(Window.partitionBy("ch")))
      .withColumn("canon", col("keep") && col("doc_id") === col("keep_id"))
    val main = perDoc.agg(
      count(lit(1)).as("n0"), coalesce(sum("n_toks"), lit(0L)).as("t0"),
      count(when(col("keep"), 1)).as("n1"),
      coalesce(sum(when(col("keep"), col("n_toks"))), lit(0L)).as("t1"),
      count(when(col("canon"), 1)).as("n2"),
      coalesce(sum(when(col("canon"), col("n_toks"))), lit(0L)).as("t2"))
    val paras = perDoc.filter(col("canon") && size(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        posexplode(sequence(lit(0), size(col("t")) - 1, lit(ParaTokens))))
      .select(col("doc_id"), col("pos").as("para_idx"),
        md5(concat_ws(" ", slice(col("t"), col("col") + 1, lit(ParaTokens))))
          .as("ph"),
        least(lit(ParaTokens), size(col("t")) - col("col")).cast("long")
          .as("n_toks"))
    val retained = paras
      .withColumn("rn", row_number().over(
        Window.partitionBy("ph").orderBy("doc_id", "para_idx")))
      .filter(col("rn") === 1)
    val s3 = retained
      .agg(count_distinct(col("doc_id")).as("n3"),
        coalesce(sum("n_toks"), lit(0L)).as("t3"))
    main.crossJoin(s3)
      .select(explode(array(
        struct(lit(0).as("stage_id"), lit("raw").as("stage"),
          col("n0").as("n_docs"), col("t0").as("n_tokens")),
        struct(lit(1).as("stage_id"), lit("quality_gate").as("stage"),
          col("n1").as("n_docs"), col("t1").as("n_tokens")),
        struct(lit(2).as("stage_id"), lit("exact_dedup").as("stage"),
          col("n2").as("n_docs"), col("t2").as("n_tokens")),
        struct(lit(3).as("stage_id"), lit("para_dedup").as("stage"),
          col("n3").as("n_docs"), col("t3").as("n_tokens")))).as("s"))
      .select(col("s.stage_id"), col("s.stage"), col("s.n_docs"),
        col("s.n_tokens"))
      .orderBy("stage_id")
  }

  /** DuckDB twin — the gate keep condition at the
    * [[TextAnalysis.QualityMinTokens]] / [[TextAnalysis.QualityMaxDupFrac]]
    * thresholds over [[TextAnalysis]]'s shared repetition CTE, then the
    * same hash/window chain. */
  val pipelineFunnelSql: String =
    s"""WITH ${TextAnalysis.repetitionBaseSqlCte},
       |d AS (SELECT doc_id, text,
       |             list_filter(string_split_regex(lower(text), '\\W+'),
       |                         x -> length(x) > 0) AS t
       |      FROM documents),
       |b AS (SELECT doc_id, text, t, CAST(len(t) AS BIGINT) AS n_toks FROM d),
       |kept AS (SELECT b.* FROM b JOIN rb USING (doc_id)
       |         WHERE rb.n_tokens >= ${TextAnalysis.QualityMinTokens} AND rb.dup_bigram_frac <= ${TextAnalysis.QualityMaxDupFrac}),
       |h AS (SELECT doc_id, t, n_toks,
       |             md5(trim(regexp_replace(lower(text), '\\W+', ' ', 'g'))) AS ch
       |      FROM kept),
       |canon AS (SELECT ch, min(doc_id) AS keep_id FROM h GROUP BY ch),
       |s2 AS (SELECT h.* FROM h JOIN canon ON h.ch = canon.ch AND h.doc_id = canon.keep_id),
       |p AS (SELECT doc_id, CAST(g // $ParaTokens AS INT) AS para_idx,
       |             md5(array_to_string(list_slice(t, CAST(g + 1 AS INT),
       |                                            CAST(g + $ParaTokens AS INT)), ' ')) AS ph,
       |             CAST(least($ParaTokens, len(t) - g) AS BIGINT) AS n_ptoks
       |      FROM (SELECT doc_id, t, unnest(range(0, len(t), $ParaTokens)) AS g
       |            FROM s2 WHERE len(t) > 0)),
       |r AS (SELECT doc_id, n_ptoks,
       |             row_number() OVER (PARTITION BY ph ORDER BY doc_id, para_idx) = 1 AS retained
       |      FROM p)
       |SELECT 0 AS stage_id, 'raw' AS stage, count(*) AS n_docs,
       |       CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS n_tokens FROM b
       |UNION ALL SELECT 1, 'quality_gate', count(*),
       |       CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM kept
       |UNION ALL SELECT 2, 'exact_dedup', count(*),
       |       CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s2
       |UNION ALL SELECT 3, 'para_dedup', count(DISTINCT doc_id),
       |       CAST(coalesce(sum(n_ptoks), 0) AS BIGINT) FROM r WHERE retained
       |ORDER BY stage_id""".stripMargin

  // --------------------------------------------------------------------
  // Exact n-gram Jaccard (inverted-index blocking)
  // --------------------------------------------------------------------

  /** Exact 3-shingle Jaccard near-dup pairs (j ≥ 0.8) with PREFIX
    * FILTERING (AllPairs/PPJoin): if jaccard(A,B) ≥ t then A needs
    * ≥ t·|A| common shingles, so the |A| - ⌈t·|A|⌉ + 1 globally-RAREST
    * shingles of A must intersect B's prefix. Only prefixes explode into
    * the candidate join — cost tracks rare-shingle co-occurrence instead
    * of Σ freq² over the whole vocabulary (the difference between hours
    * and minutes at 100 TB, where stop-shingles have huge freq²).
    *
    * The ENTIRE candidate pipeline runs in the 48-bit md5 HASH space
    * ([[docShingleHashes]]): prefix selection, the rarity ordering, the
    * length filter, and the verified jaccard all see the same element
    * universe, so the prefix/length filters are necessary conditions for
    * exactly the quantity the verify step computes (selecting prefixes
    * over raw strings but verifying over hashes would leave a ~n²/2⁴⁸
    * collision gap in the proof — and hash-space candidates also ship
    * 8-byte longs through the hot joins instead of ~30-byte strings).
    * Candidates are then verified exactly against full hashed shingle
    * sets ([[verifyJaccard]] — a JIT'd sorted-merge, cross-engine
    * identical), so the output matches the naive all-pairs oracle. */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val t = 0.8
    val hv = corpusShingleHashes(spark, sfDir)
    val cands = exactJaccardCandidates(hv, t)
    verifyJaccard(spark, cands, hv, t)
      .select("doc_a", "doc_b", "n_common", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** The AllPairs+PPJoin EXACT candidate generator extracted from
    * [[ngramJaccardPairs]] (same filters, parameterized threshold) so
    * [[dedupThresholdCurve]] can enumerate at its loosest grid point:
    * every pair with jaccard ≥ t survives (both filters are proven
    * necessary conditions), so downstream per-threshold counts are
    * exact, not recall-limited. */
  private def exactJaccardCandidates(hv: DataFrame, t: Double): DataFrame = {
    val ex = hv.select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("h"))
    val freq = ex.groupBy("h").agg(count(lit(1)).as("f"))
    // global rarity order (freq asc, hash asc as tiebreak), then keep
    // each doc's prefix: the rarest n - ceil(t*n) + 1 hashes (n carried
    // from size(hs) — no second window needed)
    val w = Window.partitionBy("doc_id").orderBy(col("f").asc, col("h").asc)
    val prefixes = ex.join(freq, "h")
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= col("n") - ceil(col("n") * t) + 1)
      .select("doc_id", "n", "h", "r")
    // AllPairs LENGTH FILTER: j(A,B) ≥ t forces min(|A|,|B|) ≥ t·max
    // (intersection ≤ min, union ≥ max) — prunes size-mismatched
    // candidates before the expensive verify join. Exact integer form
    // with floor(t·10⁴) scaling: min ≥ t·max ⇒ min·10⁴ ≥ t·10⁴·max ≥
    // ⌊t·10⁴⌋·max, so the filter stays a NECESSARY condition (never
    // drops a true pair) for any t, not just multiples of 0.1. Matters
    // most when shingle frequencies are uniform (no rare prefix shingles
    // to discriminate): on a synthetic worst-case corpus this cut
    // candidates ~5× and verify time with them.
    //
    // PPJOIN POSITIONAL FILTER (Xiao et al., WWW'08): r is each hash's
    // rank in its doc's FULL (f, h)-sorted list — a total order shared by
    // all docs — so a match at ranks (r_a, r_b) bounds the intersection:
    // I ≤ 1 + min(n_a − r_a, n_b − r_b) (everything before the match in
    // either list can't contribute when the match is the pair's first
    // common element). j ≥ t needs I ≥ t·(n_a+n_b)/(1+t); comparing the
    // bound against that minimum in cross-multiplied integer form drops
    // size-compatible pairs whose prefix match sits too LATE to leave
    // room for the required overlap. Necessity: a true pair's first
    // common element lies inside both prefixes (the prefix-length
    // lemma), and for THAT match the bound ≥ I ≥ required — the pair
    // survives via it regardless of what happens to its other matches.
    // On the adversarial uniform-frequency corpus this is the only
    // filter with discriminating power left after the length filter.
    val tScaled = math.floor(t * 10000).toLong
    prefixes.as("a").join(prefixes.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) * 10000L >=
            greatest(col("a.n"), col("b.n")) * tScaled &&
          (lit(1L) + least(col("a.n") - col("a.r"), col("b.n") - col("b.r"))) *
            lit(10000L + tScaled) >= lit(tScaled) * (col("a.n") + col("b.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  val ngramJaccardPairsSql: String =
    s"""WITH $shinglesSqlCte,
       |$shingleHashSqlCte
       |SELECT doc_a, doc_b, n_common,
       |       CAST(floor(raw_j * 1000000 + 0.5) AS DOUBLE) / 1000000 AS jaccard
       |FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         len(list_intersect(a.hs, b.hs)) AS n_common,
       |         CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |           / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS raw_j
       |  FROM hv a JOIN hv b ON a.doc_id < b.doc_id)
       |WHERE raw_j >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------------
  // Dedup threshold tuning curve
  // --------------------------------------------------------------------

  /** τ grid in tenths — mirrored verbatim in the oracle's unnest (the
    * NprobeCurvePoints discipline). */
  private val ThresholdCurveTenths = Seq(5, 6, 7, 8, 9)

  /** DEDUP THRESHOLD TUNING CURVE — "how aggressive should near-dedup
    * be": for each candidate jaccard threshold τ ∈ {0.5 … 0.9}, the
    * number of qualifying near-dup pairs, the number of documents
    * touched by at least one such pair, and the corpus fraction that
    * is. The companion table to [[ngramJaccardDedup]] the way
    * ivf_nprobe_curve companions ann_cosine_ivf: the fixed queries
    * apply ONE threshold; this prices the choices before you pick it
    * ("0.9 touches 3% of docs, 0.5 touches 19% — dedup at 0.7 and
    * re-run the quality gate on survivors").
    *
    * Exactness: pairs enumerate ONCE at the grid's loosest point via
    * [[exactJaccardCandidates]] (AllPairs length + PPJoin prefix
    * filters — necessary conditions, so nothing at any grid τ is
    * recall-limited), verified by the shared two-pointer intersection;
    * per-τ membership is the INTEGER cross-multiplied comparison
    * I·10 ≥ tt·(|A|+|B|−I) (τ in exact tenths — no IEEE division
    * anywhere near the gate). Scale: the τ=0.5 prefix is ~half of each
    * doc's shingles, the documented exact-enumeration price — this is
    * the tuning readout you run on a sampled shard to SET the
    * production threshold, and its per-τ regrouping is over the
    * |pairs@0.5|-bounded list × a broadcast 5-row grid, never the
    * corpus. */
  def dedupThresholdCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tMin = ThresholdCurveTenths.min / 10.0
    val hv = corpusShingleHashes(spark, sfDir)
    val pairs = verifyJaccard(spark, exactJaccardCandidates(hv, tMin), hv, tMin)
    val sizes = hv.select(col("doc_id"), size(col("hs")).cast("long").as("nsz"))
    val p = pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsz").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsz").as("nb")), "doc_b")
    val grid = ThresholdCurveTenths.toDF("tt")
    val q = p.crossJoin(broadcast(grid))
      .filter(col("n_common") * 10L >=
        col("tt") * (col("na") + col("nb") - col("n_common")))
    val perTau = q.groupBy("tt").agg(count(lit(1)).as("n_pairs"))
    val docsPerTau = q
      .select(col("tt"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .distinct()
      .groupBy("tt").agg(count(lit(1)).as("n_docs"))
    // r14: the corpus total rides a broadcast 1-row aggregate instead
    // of a driver count() action (the basket_rules move); the empty-
    // corpus guard becomes a when() on the same row
    val tot = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_tot"))
    val fracCol =
      when(col("n_tot") === 0, lit(0.0))
        .otherwise(Det.r(coalesce(col("n_docs"), lit(0L)).cast("double")
          / col("n_tot"), 6))
    grid.join(perTau, Seq("tt"), "left").join(docsPerTau, Seq("tt"), "left")
      .crossJoin(broadcast(tot))
      .select((col("tt").cast("double") / 10).as("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs_affected"),
        fracCol.as("frac_affected"))
      .orderBy("tau")
  }

  /** Oracle: brute-force all-pairs intersections × the same integer
    * per-τ gate — equality proves the AllPairs enumeration at τ_min
    * misses nothing at ANY grid point. */
  val dedupThresholdCurveSql: String =
    s"""WITH $shinglesSqlCte,
       |$shingleHashSqlCte,
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              len(list_intersect(a.hs, b.hs)) AS i,
       |              len(a.hs) AS na, len(b.hs) AS nb
       |       FROM hv a JOIN hv b ON a.doc_id < b.doc_id),
       |q AS (SELECT t.tt, doc_a, doc_b
       |      FROM pr CROSS JOIN (SELECT unnest([5, 6, 7, 8, 9]) AS tt) t
       |      WHERE i * 10 >= tt * (na + nb - i)),
       |np AS (SELECT tt, count(*) AS n_pairs FROM q GROUP BY 1),
       |nd AS (SELECT tt, count(*) AS n_docs FROM (
       |         SELECT DISTINCT tt, doc FROM (
       |           SELECT tt, unnest([doc_a, doc_b]) AS doc FROM q))
       |       GROUP BY 1),
       |tot AS (SELECT count(*) AS n FROM documents)
       |SELECT CAST(t.tt AS DOUBLE) / 10 AS tau,
       |       coalesce(np.n_pairs, 0) AS n_pairs,
       |       coalesce(nd.n_docs, 0) AS n_docs_affected,
       |       CASE WHEN tot.n = 0 THEN CAST(0 AS DOUBLE)
       |            ELSE ${Det.rSql(
                      "CAST(coalesce(nd.n_docs, 0) AS DOUBLE) / tot.n", 6)}
       |       END AS frac_affected
       |FROM (SELECT unnest([5, 6, 7, 8, 9]) AS tt) t
       |LEFT JOIN np USING (tt) LEFT JOIN nd USING (tt) CROSS JOIN tot
       |ORDER BY tau""".stripMargin

  private val ContainT = 0.8
  private val ContainMaxDf = 1000

  /** ASYMMETRIC CONTAINMENT PAIRS: (contained, container) where
    * |A∩B|/|A| ≥ [[ContainT]] — the quote/excerpt/boilerplate-wrapper
    * detector. This is the near-dup geometry the Jaccard family's
    * AllPairs LENGTH FILTER deliberately excludes (a 100-shingle doc
    * fully inside a 10000-shingle doc has jaccard ≈ 0.01 and containment
    * 1.0), so it completes the dedup family rather than duplicating it.
    *
    * Same 48-bit hashed-shingle universe end to end
    * ([[docShingleHashes]], shared cache): candidates are pairs sharing
    * ≥1 shingle of document frequency ≤ [[ContainMaxDf]] (the
    * [[graft.queries.TextAnalysis.contaminationCheck]] df-cap semantics,
    * applied identically in the oracle — a pair ALL of whose shared
    * shingles are ultra-common is boilerplate, not a quote, and capping
    * bounds each posting's fan-out at df² instead of letting one
    * stop-shingle emit |corpus|² pairs). Verification is the exact
    * set intersection over the hashed shingle arrays; both directional
    * ratios are tested and each direction ≥ t emits its own row.
    * Filter on the RAW ratio, emit the r6-rounded value (the
    * [[verifyJaccard]] discipline).
    *
    * Cost boundary (the [[ngramJaccardPairs]] lesson, inherited): this
    * is the family's GUARANTEED-EXACT containment option, and exact
    * candidate generation costs Σ_rare-shingle df² — on a vocabulary-
    * similar corpus where most pairs share shingles that is inherently
    * ~pair-density-bound (probe: tractable at 20k docs, runaway at 100k
    * adversarial docs). On corpora that dense, the probabilistic
    * in-family paths (minhash/simhash for symmetric near-dups) or a
    * tighter df cap are the scale route; real web corpora with heavy-
    * tailed shingle frequencies sit far below the adversarial bound. */
  def containmentPairs(spark: SparkSession, sfDir: String,
                       t: Double = ContainT,
                       maxDf: Int = ContainMaxDf): DataFrame = {
    require(t > 0 && t <= 1, s"need 0 < t <= 1, got $t")
    val hv = corpusShingleHashes(spark, sfDir)
    val post = hv.select(col("doc_id"), explode(col("hs")).as("h"))
    val rare = post.join(
      post.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("h"), "h")
    val cands = rare.select(col("h"), col("doc_id").as("doc_a"))
      .join(rare.select(col("h"), col("doc_id").as("doc_b")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // intersection via the builtin (codegen'd, no task-closure kernel to
    // keep serialization-safe) — arrays are distinct sets so the count
    // equals the sorted-merge's; same O(n+m) work per pair
    val joined = cands
      .join(hv.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(hv.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("ha")).cast("long").as("n_a"),
        size(col("hb")).cast("long").as("n_b"),
        graft.functions.VectorFunctions.sorted_intersect_count(
          col("ha"), col("hb")).as("n_common"))
    val directed = joined
      .select(col("doc_a").as("contained"), col("doc_b").as("container"),
        col("n_a").as("n_contained"), col("n_common"))
      .union(joined
        .select(col("doc_b").as("contained"), col("doc_a").as("container"),
          col("n_b").as("n_contained"), col("n_common")))
    directed
      .withColumn("raw", col("n_common").cast("double") / col("n_contained"))
      .filter(col("raw") >= t)
      .select(col("contained"), col("container"), col("n_common"),
        Det.r(col("raw"), 6).as("containment"))
      .orderBy("contained", "container")
  }

  val containmentPairsSql: String =
    s"""WITH $shinglesSqlCte,
       |$shingleHashSqlCte,
       |post AS (SELECT doc_id, unnest(hs) AS h FROM hv),
       |rare AS (SELECT p.doc_id, p.h FROM post p
       |         JOIN (SELECT h FROM post GROUP BY h
       |               HAVING count(*) <= $ContainMaxDf) d USING (h)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM rare a JOIN rare b
       |           ON a.h = b.h AND a.doc_id < b.doc_id),
       |iv AS (SELECT c.doc_a, c.doc_b, len(a.hs) AS n_a, len(b.hs) AS n_b,
       |              len(list_intersect(a.hs, b.hs)) AS n_common
       |       FROM cand c JOIN hv a ON a.doc_id = c.doc_a
       |                   JOIN hv b ON b.doc_id = c.doc_b),
       |dirp AS (SELECT doc_a AS contained, doc_b AS container,
       |                n_a AS n_contained, n_common FROM iv
       |         UNION ALL
       |         SELECT doc_b, doc_a, n_b, n_common FROM iv)
       |SELECT contained, container, n_common,
       |       ${Det.rSql("CAST(n_common AS DOUBLE) / n_contained", 6)}
       |         AS containment
       |FROM dirp
       |WHERE CAST(n_common AS DOUBLE) / n_contained >= $ContainT
       |ORDER BY contained, container""".stripMargin

  private val SketchK = 128
  /** Coverage below this ⇒ the sketch is in its documented blind
    * regime (most docs retain no rare shingle to be found by). Shared
    * by [[containmentSketchCoverage]] and the regime column
    * [[containmentPairsSketch]] stamps on every output row. Declared
    * ABOVE the sketch SQL val that interpolates it (object-init-order:
    * a strict val capturing a lower constant reads 0). */
  private val CoverageOkT = 0.9
  /** Estimator admission threshold, scaled ×10⁴: admit a directed pair
    * to exact verification when the SKETCH-estimated rare-containment is
    * ≥ 0.5 — [[ContainT]] minus a generous noise margin (binomial sd at
    * k = 128, p = 0.8 is ≈ 0.035; 0.3 is ~8σ, so a true ≥ t pair whose
    * sketch estimate dips below admission is vanishingly rare). */
  private val SketchTEstScaled = 5000L

  /** BOUNDED containment pairs — the scale path for the
    * [[containmentPairs]] geometry (quote/excerpt detection). Same
    * output contract (directed (contained, container) rows with the
    * EXACT full-intersection containment ≥ [[ContainT]]); the difference
    * is candidate generation, which replaces the exact query's
    * Σ_rare-shingle df² posting self-join with a deterministic bottom-k
    * sketch estimator (the minhash→verify discipline applied to the
    * asymmetric geometry):
    *
    *  1. Sketch S_k(A) = the k smallest 48-bit md5 shingle hashes of A —
    *     a prefix slice of the already-sorted [[docShingleHashes]] array,
    *     and (hash order being independent of content frequency) a
    *     uniform size-k sample of A's shingle set.
    *  2. Directed candidates + estimate in ONE narrow aggregation:
    *     sketch postings (≤ k rows/doc, df ≤ [[ContainMaxDf]]) join full
    *     postings (df-capped likewise) on the shingle hash; count hits
    *     per (contained, container). hits/|S_k(A)∩rare| is an unbiased
    *     estimate of A's rare-containment in B. Join cost is
    *     Σ_h sketchdf(h)·df(h) ≤ maxDf·k·|docs| — LINEAR in corpus size
    *     (the exact query's Σ df² is not), and the rows carry two ids +
    *     a count, never an array (the r8 shuffle rule), with map-side
    *     partial aggregation.
    *  3. Admission: hits·10⁴ ≥ [[SketchTEstScaled]]·k_rare — an 8σ-slack
    *     filter, so survivors ≈ output-sized.
    *  4. EXACT verify of survivors only: full set intersection
    *     (common shingles included — identical semantics to the exact
    *     query's verify), emit ≥ t with the same Det rounding.
    *  5. Every output row carries the coverage `regime` verdict
    *     ([[containmentSketchCoverage]]'s `ok`/`df_saturated`/`empty`,
    *     stamped from a 1-row broadcast) — a df-saturated shard's pairs
    *     cannot be consumed without seeing the flag; the standalone
    *     coverage readout remains the signal when there are NO pairs.
    *
    * Precision is 1 by construction (every emitted row passes the exact
    * test and shares ≥ 1 rare shingle, so it appears in
    * [[containmentPairs]]' output too); recall is probabilistic —
    * DedupSpec pins it against the exact twin at the fixture, and the
    * 100k-doc adversarial ScaleProbe corpus (where the exact query is a
    * documented runaway) completes because no stage is pair-density-
    * bound before the admission filter. 100 TB story: postings shuffle
    * on the shingle hash (≤ maxDf·k·N rows), the estimate aggregates on
    * (contained, container) with partial agg, and float-free narrow rows
    * are all that move until the output-sized verify join. */
  def containmentPairsSketch(spark: SparkSession, sfDir: String,
                             t: Double = ContainT,
                             k: Int = SketchK,
                             maxDf: Int = ContainMaxDf): DataFrame = {
    require(t > 0 && t <= 1, s"need 0 < t <= 1, got $t")
    require(k > 0, s"need k > 0, got $k")
    val hv = corpusShingleHashes(spark, sfDir)
    val post = hv.select(col("doc_id"), explode(col("hs")).as("h"))
    val rareH = post.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    // bottom-k sketch: hs is sorted ascending, so the k smallest hashes
    // are a prefix slice (O(1) per doc, identical on the oracle side)
    val skRare = hv.select(col("doc_id"), explode(slice(col("hs"), 1, k)).as("h"))
      .join(rareH, "h")
    val postRare = post.join(rareH, "h")
    val kRare = skRare.groupBy("doc_id").agg(count(lit(1)).as("k_rare"))
    val est = skRare.select(col("h"), col("doc_id").as("contained"))
      .join(postRare.select(col("h"), col("doc_id").as("container")), "h")
      .filter(col("contained") =!= col("container"))
      .groupBy("contained", "container").agg(count(lit(1)).as("hits"))
    val surv = est
      .join(kRare.select(col("doc_id").as("contained"), col("k_rare")), "contained")
      .filter(col("hits") * lit(10000L) >= lit(SketchTEstScaled) * col("k_rare"))
      .select("contained", "container")
    // regime self-announcement STAMPED ON EVERY ROW (r10 verdict #8): a
    // df-saturated shard's pairs cannot be consumed without seeing the
    // flag — the same coverage verdict containmentSketchCoverage emits
    // standalone (which remains the readout when there are NO pairs),
    // computed from frames this query already built (1-row broadcast)
    val tot = hv.agg(count(lit(1)).as("n_docs"))
    val cov = kRare.agg(count(lit(1)).as("n_covered"))
    val covRaw = col("n_covered").cast("double") / col("n_docs")
    val regime = tot.crossJoin(cov).select(
      when(col("n_docs") === 0, "empty")
        .when(covRaw >= CoverageOkT, "ok")
        .otherwise("df_saturated").as("regime"))
    surv
      .join(hv.select(col("doc_id").as("contained"), col("hs").as("ha")), "contained")
      .join(hv.select(col("doc_id").as("container"), col("hs").as("hb")), "container")
      .select(col("contained"), col("container"),
        size(col("ha")).cast("long").as("n_contained"),
        graft.functions.VectorFunctions.sorted_intersect_count(
          col("ha"), col("hb")).as("n_common"))
      .withColumn("raw", col("n_common").cast("double") / col("n_contained"))
      .filter(col("raw") >= t)
      .crossJoin(broadcast(regime))
      .select(col("contained"), col("container"), col("n_common"),
        Det.r(col("raw"), 6).as("containment"), col("regime"))
      .orderBy("contained", "container")
  }

  /** DuckDB twin of [[containmentPairsSketch]] — the sketch is the same
    * prefix slice of the sorted hash list (`hs[1:k]`), the estimator the
    * same integer cross-multiplied admission, the verify the same full
    * list intersection. */
  val containmentPairsSketchSql: String =
    s"""WITH $shinglesSqlCte,
       |$shingleHashSqlCte,
       |post AS (SELECT doc_id, unnest(hs) AS h FROM hv),
       |rare AS (SELECT h FROM post GROUP BY h
       |         HAVING count(*) <= $ContainMaxDf),
       |skr AS (SELECT s.doc_id, s.h
       |        FROM (SELECT doc_id, unnest(hs[1:$SketchK]) AS h FROM hv) s
       |        JOIN rare USING (h)),
       |postr AS (SELECT p.doc_id, p.h FROM post p JOIN rare USING (h)),
       |krare AS (SELECT doc_id, count(*) AS k_rare FROM skr GROUP BY doc_id),
       |est AS (SELECT a.doc_id AS contained, b.doc_id AS container,
       |               count(*) AS hits
       |        FROM skr a JOIN postr b ON a.h = b.h AND a.doc_id <> b.doc_id
       |        GROUP BY 1, 2),
       |surv AS (SELECT e.contained, e.container
       |         FROM est e JOIN krare k ON k.doc_id = e.contained
       |         WHERE e.hits * 10000 >= $SketchTEstScaled * k.k_rare),
       |iv AS (SELECT s.contained, s.container, len(a.hs) AS n_contained,
       |              len(list_intersect(a.hs, b.hs)) AS n_common
       |       FROM surv s JOIN hv a ON a.doc_id = s.contained
       |                   JOIN hv b ON b.doc_id = s.container),
       |reg AS (SELECT CASE WHEN (SELECT count(*) FROM hv) = 0 THEN 'empty'
       |                    WHEN CAST((SELECT count(*) FROM krare) AS DOUBLE)
       |                         / (SELECT count(*) FROM hv) >= $CoverageOkT
       |                      THEN 'ok'
       |                    ELSE 'df_saturated' END AS regime)
       |SELECT contained, container, n_common,
       |       ${Det.rSql("CAST(n_common AS DOUBLE) / n_contained", 6)}
       |         AS containment, regime
       |FROM iv CROSS JOIN reg
       |WHERE CAST(n_common AS DOUBLE) / n_contained >= $ContainT
       |ORDER BY contained, container""".stripMargin

  /** CONTAINMENT-SKETCH COVERAGE — the self-announcement for
    * [[containmentPairsSketch]]'s documented recall boundary. The
    * sketch can only find a contained doc through its rare (df ≤
    * [[ContainMaxDf]]) sketch shingles; on a vocabulary-EXHAUSTED shard
    * (600k closed-vocab probe: avg shingle df ~4× the cap) most docs
    * retain NO rare sketch shingle and recall silently fell 1.000 →
    * 0.749 (PERF.md's measured boundary). This one-row readout makes
    * that regime visible BEFORE trusting the sketch's output: the
    * fraction of docs with ≥1 rare sketch shingle (`coverage`), the
    * mean rare-sketch size among covered docs, and a `regime` verdict
    * (`ok` / `df_saturated` / `empty`). The same verdict now RIDES
    * every [[containmentPairsSketch]] output row (r10 verdict #8), so
    * routing df-saturated shards to the Jaccard-geometry paths
    * (minhash/simhash, whose banding does not depend on df rarity) no
    * longer relies on running this readout by hand; this standalone
    * query stays the signal for shards that emit zero pairs. The cap itself stays FIXED rather than corpus-derived:
    * Σ sketchdf·df ≤ maxDf·k·N is the linear cost bound that makes the
    * sketch the scale path, and raising maxDf with N on a closed-vocab
    * corpus re-creates the exact query's pair-density runaway — the
    * honest split is bounded-cost + self-reported blind spot.
    *
    * Scale: same postings frames as the sketch (shared shingle cache),
    * two scalar aggregates — nothing pair-shaped anywhere. */
  def containmentSketchCoverage(spark: SparkSession, sfDir: String,
                                k: Int = SketchK,
                                maxDf: Int = ContainMaxDf): DataFrame = {
    val hv = corpusShingleHashes(spark, sfDir)
    val post = hv.select(col("doc_id"), explode(col("hs")).as("h"))
    val rareH = post.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    val skRare = hv.select(col("doc_id"), explode(slice(col("hs"), 1, k)).as("h"))
      .join(rareH, "h")
    val kRare = skRare.groupBy("doc_id").agg(count(lit(1)).as("k_rare"))
    val tot = hv.agg(count(lit(1)).as("n_docs"))
    val cov = kRare.agg(count(lit(1)).as("n_covered"),
      coalesce(sum("k_rare"), lit(0L)).as("sum_k_rare"))
    val covRaw = col("n_covered").cast("double") / col("n_docs")
    tot.crossJoin(cov).select(
      col("n_docs"), col("n_covered"),
      lit(maxDf.toLong).as("max_df"), lit(k.toLong).as("sketch_k"),
      Det.r(when(col("n_docs") > 0, covRaw).otherwise(lit(0.0)), 6)
        .as("coverage"),
      Det.r(when(col("n_covered") > 0,
          col("sum_k_rare").cast("double") / col("n_covered"))
        .otherwise(lit(0.0)), 4).as("avg_k_rare"),
      when(col("n_docs") === 0, "empty")
        .when(covRaw >= CoverageOkT, "ok")
        .otherwise("df_saturated").as("regime"))
  }

  val containmentSketchCoverageSql: String =
    s"""WITH $shinglesSqlCte,
       |$shingleHashSqlCte,
       |post AS (SELECT doc_id, unnest(hs) AS h FROM hv),
       |rare AS (SELECT h FROM post GROUP BY h
       |         HAVING count(*) <= $ContainMaxDf),
       |skr AS (SELECT s.doc_id, s.h
       |        FROM (SELECT doc_id, unnest(hs[1:$SketchK]) AS h FROM hv) s
       |        JOIN rare USING (h)),
       |kr AS (SELECT doc_id, count(*) AS k_rare FROM skr GROUP BY doc_id),
       |tot AS (SELECT count(*) AS n_docs FROM hv),
       |cov AS (SELECT count(*) AS n_covered,
       |               coalesce(sum(k_rare), 0) AS sum_k_rare FROM kr)
       |SELECT n_docs, n_covered,
       |       CAST($ContainMaxDf AS BIGINT) AS max_df,
       |       CAST($SketchK AS BIGINT) AS sketch_k,
       |       ${Det.rSql(
      "CASE WHEN n_docs > 0 THEN CAST(n_covered AS DOUBLE) / n_docs " +
        "ELSE 0.0 END", 6)} AS coverage,
       |       ${Det.rSql(
      "CASE WHEN n_covered > 0 THEN CAST(sum_k_rare AS DOUBLE) / n_covered " +
        "ELSE 0.0 END", 4)} AS avg_k_rare,
       |       CASE WHEN n_docs = 0 THEN 'empty'
       |            WHEN CAST(n_covered AS DOUBLE) / n_docs >= $CoverageOkT
       |              THEN 'ok'
       |            ELSE 'df_saturated' END AS regime
       |FROM tot CROSS JOIN cov""".stripMargin

  // --------------------------------------------------------------------
  // MinHash + LSH
  // --------------------------------------------------------------------

  private val NumHashes = 128
  private val BandRows = 4               // 32 bands × 4 rows
  private val NumBands = NumHashes / BandRows

  /** Recall budget for the banded-LSH candidate stage at the verified
    * threshold j = 0.8: P(a true pair shares no band) ≤ this, by the
    * closed formula (1 − jʳ)ᵇ. The fixture geometry (4, 32) sits at
    * 5·10⁻⁸; derived geometries are sized to the same order. */
  private val MinhashMissBudget = 1e-7
  private val MinhashThreshold = 0.8
  /** Corpus size where the fixed fixture geometry starts saturating its
    * band-value space (the closed-vocabulary occupancy wall measured in
    * PERF.md): below this, (4, 32) verbatim — sf fixtures and bench
    * never change behavior; above, +1 band row per corpus doubling. */
  private val GeomBaseDocs = 1_000_000L
  private val MaxBandRows = 8

  /** (bandRows r, numBands b) from corpus doc count — the
    * [[graft.queries.Similarity.derivedSigBits]] discipline applied to
    * minhash banding. A band is a false-positive bucket key with
    * per-pair collision rate E[Jʳ]; on a closed-vocabulary corpus the
    * distinct band-value space is |shingle vocab|-combinatorial in r,
    * so each +1 row multiplies the value space and divides the
    * background collision rate by the background agreement (≤ ~½ on any
    * corpus sparser than coin flips) — +1 row per doubling past
    * [[GeomBaseDocs]] keeps bucket-pair work ~linear in n. b is then
    * the SMALLEST band count holding the miss budget at j = 0.8:
    * b = ⌈ln(budget) / ln(1 − 0.8ʳ)⌉ — recall is a closed guarantee at
    * every geometry, never traded for occupancy. r caps at
    * [[MaxBandRows]] (r·b = 704 signature rows; past that the verify
    * stage, not candidate generation, is the documented binding cost
    * and the in-family escape is the sketch/simhash path). Geometry
    * only shapes CANDIDATE generation — the output is exact-Jaccard
    * verified either way, so fixture hashes are geometry-independent. */
  private[graft] def derivedBandGeometry(nDocs: Long): (Int, Int) = {
    val m = math.max(1L, (nDocs + GeomBaseDocs - 1) / GeomBaseDocs)
    val ceilLog2 =
      if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    val r = math.min(MaxBandRows, BandRows + ceilLog2)
    if (r == BandRows) (BandRows, NumBands)
    else {
      val bandHit = math.pow(MinhashThreshold, r)
      val b = math.ceil(math.log(MinhashMissBudget) / math.log1p(-bandHit)).toInt
      (r, b)
    }
  }

  /** Corpus doc count per dir, memoized (the corpusVecCount pattern —
    * corpus dirs are session-immutable); feeds [[derivedBandGeometry]]
    * at query construction. */
  private val nDocsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def corpusDocCount(spark: SparkSession, sfDir: String): Long =
    nDocsMemo.computeIfAbsent(sfDir,
      _ => Long.box(Tables.documents(spark, sfDir).count())).longValue()

  /** splitmix64 finalizer — the content hash behind OPH slot assignment.
    * Full-width 64-bit avalanche of the 48-bit shingle hash, so slot and
    * value bits are independent of the md5 bits they came from. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 ^ 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** MinHash signatures + banded LSH candidates + exact-Jaccard verify.
    *
    * Signatures are built over the SAME 48-bit md5 shingle-hash sets the
    * verify step intersects ([[docShingleHashes]]) — one universe end to
    * end, so the AllPairs length filter below (over |hs|) is a necessary
    * condition for exactly the jaccard being verified, and the md5 pass
    * is shared (cached) instead of re-tokenizing.
    *
    * Signatures use ONE-PERMUTATION HASHING with OPTIMAL densification
    * (Shrivastava 2017): each shingle hash is mixed ONCE (splitmix64
    * avalanche) and lands in slot h mod 128, keeping the minimum per
    * slot; an empty slot borrows from the slot reached by a
    * content-INDEPENDENT random walk over hash(slot, attempt). Rotation
    * densification (borrow from the next filled slot) is the classic
    * alternative but correlates sparse signatures: with ~50-shingle docs
    * only 40% of slots fill, empty runs borrow from whichever popular
    * slot-minimum follows them, and docs sharing one popular shingle
    * collide across entire borrowed bands — measured 9.4M bogus
    * candidate pairs on a 100k-doc uniform-vocabulary corpus, vs ~10k
    * after the fix. The walk sequence (i, attempt) is identical in every
    * doc, so true near-dups still agree on borrowed slots with p ≈ j and
    * the per-band recall math is unchanged (j ≥ 0.8 band match p = j⁴ ≥
    * 0.41, miss (1-p)³² ≤ 5e-8 — recall ≈ 1, which is why the
    * exact-Jaccard-verified output matches the brute-force oracle).
    * Bands of 4 slots hash to buckets; pairs sharing a bucket are
    * candidates; the AllPairs length filter prunes size-mismatched
    * candidates before verification joins the hash arrays — pair-local,
    * no n² anywhere.
    *
    * Geometry is CORPUS-DERIVED past 1M docs ([[derivedBandGeometry]]):
    * the fixed (4, 32) banding saturates its band-value space on
    * closed-vocabulary corpora (Σ C(occ, 2) bucket work goes
    * superlinear — measured in PERF.md's minhash_geometry table), so
    * band rows grow +1 per corpus doubling with band count re-derived
    * to hold the same ≤1e-7 miss budget at j = 0.8. The output is
    * exact-verified either way — geometry changes candidate-stage cost,
    * never results. */
  def minhashLshDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val hv = corpusShingleHashes(spark, sfDir)
    val (r, b) = derivedBandGeometry(corpusDocCount(spark, sfDir))
    verifyJaccard(spark, minhashCandidates(spark, hv, r, b), hv, MinhashThreshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Band rows `(doc_id, band, bv, n)` at a given geometry. Two kernels:
    *
    *  - **(4, 32)** — the fixture geometry: ONE-PERMUTATION HASHING with
    *    optimal densification, verbatim (one mix per shingle; see
    *    [[minhashLshDedup]]'s construction notes above).
    *  - **derived wide geometries** — r·b INDEPENDENT seeded minhash
    *    rows (row i = min over shingle hashes of mix64(h + i·gamma)):
    *    per-row agreement is EXACTLY the pair's jaccard, independently
    *    per row, so the (1 − jʳ)ᵇ miss bound carries no OPH-sparsity
    *    caveat — at 200+ rows against ~60-shingle docs an OPH signature
    *    would be >70% densified borrows, and correlated borrowed bands
    *    void the closed recall formula exactly when the wide geometry
    *    is the one relying on it. Costs one mix per (shingle, row) —
    *    |sh|·r·b ≈ 30k mixes/doc at the widest geometry, a scan-local
    *    JIT'd loop, measured in the `minhash_geometry` probe leg. */
  private[graft] def minhashBandRows(spark: SparkSession, hv: DataFrame,
                                     bandRowsN: Int, numBands: Int): DataFrame = {
    import spark.implicits._
    val src = hv.select(col("doc_id"), col("hs")).as[(Long, Seq[Long])]
    val out =
      if (bandRowsN == BandRows && numBands == NumBands) src.flatMap { case (id, hs) =>
        if (hs.isEmpty) Iterator.empty
        else {
          val slots = Array.fill(NumHashes)(Long.MaxValue)
          hs.foreach { sh =>
            val h = mix64(sh)
            val b = java.lang.Math.floorMod(h, NumHashes.toLong).toInt
            val v = h >>> 8   // positive, full-entropy; < MaxValue sentinel
            if (v < slots(b)) slots(b) = v
          }
          // optimal densification: walk hash(slot, attempt) until a
          // filled slot; the walk is the same in every doc, so borrowed
          // slots agree between docs iff the landing slots agree
          val dense = Array.tabulate(NumHashes) { i =>
            if (slots(i) != Long.MaxValue) slots(i)
            else {
              var attempt = 1
              var v = Long.MaxValue
              while (v == Long.MaxValue) {
                val j = java.lang.Math.floorMod(
                  scala.util.hashing.MurmurHash3.productHash((i, attempt)), NumHashes)
                if (slots(j) != Long.MaxValue) v = slots(j) + attempt
                attempt += 1
              }
              v
            }
          }
          (0 until NumBands).iterator.map { b =>
            var bh = 1125899906842597L
            var r = 0
            while (r < BandRows) { bh = bh * 31 + dense(b * BandRows + r); r += 1 }
            (id, b, bh, hs.size)
          }
        }
      }
      else {
        val rN = bandRowsN
        val bN = numBands
        src.flatMap { case (id, hs) =>
          if (hs.isEmpty) Iterator.empty
          else {
            val rows = rN * bN
            val mins = Array.fill(rows)(Long.MaxValue)
            hs.foreach { sh =>
              var i = 0
              while (i < rows) {
                // splitmix64 stream: per-row gamma offset, shared finalizer
                var z = (sh + (i + 1) * -0x61C8864680B583EBL) ^ 0x9E3779B97F4A7C15L
                z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
                z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
                z ^= (z >>> 31)
                if (z < mins(i)) mins(i) = z
                i += 1
              }
            }
            (0 until bN).iterator.map { b =>
              var bh = 1125899906842597L
              var r = 0
              while (r < rN) { bh = bh * 31 + mins(b * rN + r); r += 1 }
              (id, b, bh, hs.size)
            }
          }
        }
      }
    out.toDF("doc_id", "band", "bv", "n")
  }

  /** Banded bucket join + AllPairs length filter (min·10⁴ ≥ ⌊0.8·10⁴⌋·max
    * ⇒ necessary for j ≥ 0.8, exact ints — see ngramJaccardPairs) over
    * [[minhashBandRows]] at the given geometry, deduplicated to distinct
    * (doc_a, doc_b) candidates. */
  private[graft] def minhashCandidates(spark: SparkSession, hv: DataFrame,
                                       bandRowsN: Int, numBands: Int): DataFrame = {
    val bandRows = minhashBandRows(spark, hv, bandRowsN, numBands)
    bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id") &&
          least(col("x.n"), col("y.n")) * 10000L >=
            greatest(col("x.n"), col("y.n")) * 8000L)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Probe-only cost accounting for a band geometry: bucket occupancy
    * (Σ C(occ, 2) over (band, bv) buckets IS the bucket-join's pair
    * enumeration work, the quantity the occupancy wall inflates),
    * candidate count after the length filter + distinct, and verified
    * pairs. Eager — runs the stages; the ScaleProbe leg times them. */
  private[graft] def minhashGeometryStats(spark: SparkSession, sfDir: String,
      geom: Option[(Int, Int)]): scala.collection.immutable.ListMap[String, Long] = {
    val hv = corpusShingleHashes(spark, sfDir)
    val n = corpusDocCount(spark, sfDir)
    val (r, b) = geom.getOrElse(derivedBandGeometry(n))
    val occ = minhashBandRows(spark, hv, r, b)
      .groupBy("band", "bv").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("buckets"), coalesce(max("c"), lit(0L)).as("max_occ"),
        coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("bucket_pairs"))
      .head()
    val cands = minhashCandidates(spark, hv, r, b).count()
    val verified = verifyJaccard(spark,
      minhashCandidates(spark, hv, r, b), hv, MinhashThreshold).count()
    scala.collection.immutable.ListMap(
      "n_docs" -> n, "band_rows" -> r.toLong, "num_bands" -> b.toLong,
      "buckets" -> occ.getLong(0), "max_occ" -> occ.getLong(1),
      "bucket_pairs" -> occ.getLong(2), "cand_pairs" -> cands,
      "verified_pairs" -> verified)
  }

  /** Oracle = brute-force exact Jaccard over the hashed shingle sets
    * (the LSH stage has recall ≈ 1 at the verified threshold, see
    * [[minhashLshDedup]]; hashing is cross-engine identical). */
  val minhashLshDedupSql: String =
    s"""WITH $shinglesSqlCte,
       |$shingleHashSqlCte
       |SELECT doc_a, doc_b,
       |       CAST(floor(raw_j * 1000000 + 0.5) AS DOUBLE) / 1000000 AS jaccard
       |FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |           / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS raw_j
       |  FROM hv a JOIN hv b ON a.doc_id < b.doc_id)
       |WHERE raw_j >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------------
  // Live dedup admit gate
  // --------------------------------------------------------------------

  private val GateDeltaMod = 10L
  /** Partition count of the standing band index (pb = bv mod this): the
    * per-batch probe reads only the touched dirs, so the touched-set
    * collect is ≤ this many driver values (the Hist.bounded class of
    * driver state). A cluster deployment sizes it like any
    * partition-pruned fact table (P ≈ index_bytes / target_scan_bytes). */
  private val GatePartitions = 64L

  /** THE LIVE NEAR-DUP ADMIT GATE — the foreachBatch body of the
    * streaming dedup gate, completing the live-ingest triple
    * ([[graft.queries.Curation.decontGateBatch]] scores against eval,
    * [[graft.queries.Similarity.ingestDriftBatch]] monitors occupancy;
    * this one answers "is this incoming doc a near-dup of anything we
    * already have?" BEFORE it lands). One ledger row per incoming doc:
    * shingle count, best match (highest rounded jaccard, ties to the
    * smallest doc id), the count of matches, and the rejected flag.
    *
    * SEMANTICS — first-occurrence-keeps, non-recursive: an incoming doc
    * is rejected iff some BASE doc (corpus outside the shard) or some
    * EARLIER-ARRIVED incoming doc (same batch: smaller doc_id; prior
    * batches: the `prior` frame) has exact hashed-shingle jaccard ≥ 0.8
    * — "earlier" regardless of whether that earlier doc was itself
    * rejected, the [[exactDedup]] canonical convention, which keeps the
    * ledger non-recursive and batch-split-invariant (a doc's verdict
    * depends only on the set of earlier docs, not on batch boundaries —
    * StreamingSpec pins a 3-batch replay row-equal to the one-batch
    * twin). CONTRAST [[dedupDelta]]: that query LABELS the shard with
    * full cluster identities after admission (simhash edges, connected
    * components); this gate makes the binary admit decision at ingest
    * time against exact jaccard — run the gate on the stream, the
    * labeler on what survives.
    *
    * Scale: the standing index (band rows of the base corpus at the
    * corpus-derived geometry) is a write-once session sink PARTITIONED
    * by pb = bv mod [[GatePartitions]]; each micro-batch collects its
    * touched pb set (≤ P driver values) and probes ONLY those dirs —
    * per-batch scan cost ∝ touched partitions, not corpus
    * (PartitionFilters pinned in BucketingSpec). The batch side
    * shingles/hashes/bands through the SAME kernels as the index
    * (uncached — per-batch frames must not accrete session cache);
    * candidates are narrow (in_doc, other_doc) rows before the
    * distinct; verification joins the hash arrays per pair (the
    * [[minhashLshDedup]] discipline). Prior-batch state is Θ(arrived)
    * rows — in production an appended parquet dir, here a caller-held
    * frame. */
  private[graft] def dedupGateBatch(spark: SparkSession, sfDir: String,
                                    incoming: DataFrame,
                                    deltaMod: Long = GateDeltaMod,
                                    prior: Option[DataFrame] = None): DataFrame =
    dedupGateBatchFull(spark, sfDir, incoming, deltaMod,
      prior.map { p =>
        val ph = docShingleHashesRaw(spark, docShinglesOf(spark,
          p.select(col("doc_id"), col("text"))))
        val (rG, bG) = derivedBandGeometry(corpusDocCount(spark, sfDir))
        (minhashBandRows(spark, ph, rG, bG), ph)
      })._1

  /** [[dedupGateBatch]] with the PRODUCTION state protocol: prior-batch
    * state arrives as PRECOMPUTED (band rows, hash arrays) frames —
    * in production an appended parquet pair the caller grows per batch
    * (the `live_ingest_stream` probe does exactly that) — and the
    * batch's own (ledger, bands, hv) come back so the caller can append
    * without re-shingling. The docs-frame `prior` of [[dedupGateBatch]]
    * re-hashes every earlier doc per batch: O(arrived) per batch,
    * quadratic across a stream — measured as the dedup leg's growth in
    * the first live_ingest_stream probe (16.9 s median at 10k-doc
    * batches, vs 2.6 s with state frames + the small-batch broadcast
    * below). */
  private[graft] def dedupGateBatchFull(spark: SparkSession, sfDir: String,
      incoming: DataFrame, deltaMod: Long,
      priorState: Option[(DataFrame, DataFrame)])
      : (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    require(deltaMod > 1, s"deltaMod must be > 1, got $deltaMod")
    val (rG, bG) = derivedBandGeometry(corpusDocCount(spark, sfDir))
    val incHv = docShingleHashesRaw(spark, docShinglesOf(spark,
      incoming.select(col("doc_id"), col("text"))))
    val incBandsRaw = minhashBandRows(spark, incHv, rG, bG)
    val incBands = incBandsRaw
      .select(col("doc_id").as("in_doc"), col("band"), col("bv"),
        col("n").as("n_in"))
    // a live micro-batch is small: force the probe side broadcast so the
    // standing index NEVER shuffles per batch (AQE can't see through the
    // typed-kernel lineage to make this call itself); a bulk replay
    // (shard-sized "batch") falls back to the shuffle join
    val smallBatch =
      incoming.select(col("doc_id")).limit(100001).count() <= 100000
    def probeSide(df: DataFrame): DataFrame =
      if (smallBatch) broadcast(df) else df
    val corpusHv = corpusShingleHashes(spark, sfDir)
    val baseFilter = col("doc_id") % deltaMod =!= deltaMod - 1
    val baseIndex = Substrate.materialize(spark,
      s"graft_dgate${deltaMod}_", sfDir, Substrate.Partitioned("pb"))(
      minhashBandRows(spark, corpusHv.filter(baseFilter), rG, bG)
        .select(col("doc_id").as("other_doc"), col("band"), col("bv"),
          col("n").as("n_o"), pmod(col("bv"), lit(GatePartitions)).as("pb")))
    // per-batch partition prune: touched pb values, ≤ GatePartitions of them
    val touched = incBands
      .select(pmod(col("bv"), lit(GatePartitions)).as("pb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val lenOk = least(col("n_in"), col("n_o")) * 10000L >=
      greatest(col("n_in"), col("n_o")) * 8000L
    val candBase = probeSide(incBands)
      .join(baseIndex.filter(col("pb").isin(touched: _*)), Seq("band", "bv"))
      .filter(lenOk).select("in_doc", "other_doc")
    val candSelf = incBands.join(
        incBands.select(col("in_doc").as("other_doc"), col("band"), col("bv"),
          col("n_in").as("n_o")), Seq("band", "bv"))
      .filter(col("other_doc") < col("in_doc") && lenOk)
      .select("in_doc", "other_doc")
    val candPrior = priorState.map { case (pBands, _) =>
      probeSide(incBands).join(pBands
          .select(col("doc_id").as("other_doc"), col("band"), col("bv"),
            col("n").as("n_o")), Seq("band", "bv"))
        .filter(lenOk).select("in_doc", "other_doc")
    }
    val cands = (Seq(candBase, candSelf) ++ candPrior.toSeq)
      .reduce(_.unionByName(_)).distinct()
    val othersHv = (Seq(corpusHv.filter(baseFilter), incHv) ++
        priorState.map(_._2).toSeq)
      .map(_.select(col("doc_id").as("other_doc"), col("hs").as("hs_o")))
      .reduce(_.unionByName(_))
    val t = MinhashThreshold  // local: task closures must not touch Dedup$
    val verified = cands
      .join(incHv.select(col("doc_id").as("in_doc"), col("hs").as("hs_i")),
        "in_doc")
      .join(othersHv, "other_doc")
      .select(col("in_doc"), col("other_doc"), col("hs_i"), col("hs_o"))
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .mapPartitions { it =>
        it.flatMap { case (a, b, ha, hb) =>
          val x = ha.toArray; val y = hb.toArray
          var i = 0; var j = 0; var c = 0
          while (i < x.length && j < y.length) {
            if (x(i) == y(j)) { c += 1; i += 1; j += 1 }
            else if (x(i) < y(j)) i += 1
            else j += 1
          }
          val raw = c.toDouble / (x.length + y.length - c)
          if (raw >= t) Some((a, b, math.floor(raw * 1000000 + 0.5) / 1000000))
          else None
        }
      }.toDF("in_doc", "other_doc", "jaccard")
    val wBest = Window.partitionBy("in_doc")
      .orderBy(col("jaccard").desc, col("other_doc").asc)
    val best = verified
      .withColumn("rn", row_number().over(wBest))
      .withColumn("n_dups", count(lit(1)).over(Window.partitionBy("in_doc")))
      .filter(col("rn") === 1)
      .select(col("in_doc"), col("other_doc").as("dup_of"),
        col("jaccard"), col("n_dups"))
    val ledger = incHv.select(col("doc_id").as("in_doc"),
        size(col("hs")).cast("long").as("n_shingles"))
      .join(best, Seq("in_doc"), "left")
      .select(col("in_doc"), col("n_shingles"), col("dup_of"), col("jaccard"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("dup_of").isNotNull.as("rejected"))
    (ledger, incBandsRaw, incHv)
  }

  /** THE LIVE DEDUP GATE, ORACLE-GATED — [[dedupGateBatch]] (the exact
    * entry point the streaming sink calls per micro-batch) run over the
    * fixture delta shard (`doc_id % deltaMod == deltaMod − 1`, the
    * ingest-gate shard convention shared with
    * [[graft.queries.Curation.decontGateReplay]]) as ONE incoming
    * batch, so the gate kernel — incoming shingling, banding, the
    * pruned index probe, pair verification, the ledger — is
    * hash-compared against a brute-force DuckDB twin through the same
    * code path production uses. Ordered (jaccard DESC NULLS LAST,
    * in_doc). */
  def dedupGateReplay(spark: SparkSession, sfDir: String,
                      deltaMod: Long = GateDeltaMod): DataFrame = {
    require(deltaMod > 1, s"deltaMod must be > 1, got $deltaMod")
    val incoming = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % deltaMod === deltaMod - 1)
      .select("doc_id", "text")
    dedupGateBatch(spark, sfDir, incoming, deltaMod)
      .orderBy(col("jaccard").desc_nulls_last, col("in_doc").asc)
  }

  /** DuckDB twin of [[dedupGateReplay]]: brute-force exact jaccard of
    * each shard doc against base ∪ earlier-shard docs (the gate's
    * candidate stage has recall ≈ 1 at the verified threshold and the
    * output is exact-verified, so brute force IS the same quantity),
    * then the best-match ledger. Shingle-less shard docs stay as
    * admissible rows (LEFT JOIN from the `sh` anchor — `hv` excludes
    * them, see [[shingleHashSqlCte]]). */
  def dedupGateReplaySqlFor(deltaMod: Long): String =
    s"""WITH $shinglesSqlCte,
       |$shingleHashSqlCte,
       |inc AS (SELECT s.doc_id AS in_doc, coalesce(len(h.hs), 0) AS n_shingles,
       |               h.hs
       |        FROM sh s LEFT JOIN hv h USING (doc_id)
       |        WHERE s.doc_id % $deltaMod = $deltaMod - 1),
       |m AS (
       |  SELECT i.in_doc, o.doc_id AS other_doc,
       |         CAST(len(list_intersect(i.hs, o.hs)) AS DOUBLE)
       |           / (len(i.hs) + len(o.hs) - len(list_intersect(i.hs, o.hs)))
       |           AS raw_j
       |  FROM inc i JOIN hv o
       |    ON o.doc_id != i.in_doc
       |   AND (o.doc_id % $deltaMod != $deltaMod - 1 OR o.doc_id < i.in_doc)
       |  WHERE i.hs IS NOT NULL),
       |mm AS (SELECT in_doc, other_doc,
       |              CAST(floor(raw_j * 1000000 + 0.5) AS DOUBLE) / 1000000
       |                AS jaccard
       |       FROM m WHERE raw_j >= 0.8),
       |best AS (SELECT in_doc, other_doc AS dup_of, jaccard,
       |                CAST(n_dups AS BIGINT) AS n_dups
       |         FROM (SELECT mm.*,
       |                      row_number() OVER (PARTITION BY in_doc
       |                        ORDER BY jaccard DESC, other_doc) AS rn,
       |                      count(*) OVER (PARTITION BY in_doc) AS n_dups
       |               FROM mm)
       |         WHERE rn = 1)
       |SELECT i.in_doc, CAST(i.n_shingles AS BIGINT) AS n_shingles, b.dup_of,
       |       b.jaccard, coalesce(b.n_dups, 0) AS n_dups,
       |       b.dup_of IS NOT NULL AS rejected
       |FROM inc i LEFT JOIN best b USING (in_doc)
       |ORDER BY jaccard DESC NULLS LAST, in_doc""".stripMargin

  val dedupGateReplaySql: String = dedupGateReplaySqlFor(GateDeltaMod)

  // --------------------------------------------------------------------
  // SimHash
  // --------------------------------------------------------------------

  private val SimBits = 48  // 12 hex chars of md5 → positive in signed i64 on both engines
  private val HotBucketBound = 1024  // per-task candidate bound: 1024² popcounts ≈ ms

  /** 48-bit SimHash per doc + Hamming-≤3 near-dup pairs.
    *
    * Token hash = first 12 hex chars of md5(token) (engine-portable, unlike
    * xxhash). Bit b of the signature = majority vote of bit b across token
    * *occurrences* (frequency-weighted, the classic Charikar construction).
    * Implementation: explode tokens → one shuffle with 48 bit-sum
    * aggregates → fold bits into a long. Pair generation: 4 bands of 12
    * bits — pigeonhole guarantees recall 1 for hamming ≤ 3 (any pair with
    * ≤ 3 flipped bits shares an intact 12-bit chunk), so the LSH output
    * provably equals the brute-force oracle; verification recomputes true
    * hamming. Threshold 3 (not higher) because this corpus's shared tiny
    * vocabulary makes signatures cluster (hamming histogram is dense from
    * 4 up), and 4-band blocking only guarantees recall through 3. */
  def simhashDedup(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairs(spark, sfDir).orderBy("doc_a", "doc_b")

  /** [[simhashDedup]] without the presentation sort — the shape its
    * downstream consumers ([[dedupClusters]], [[dupPairSources]]) want,
    * since they immediately re-shuffle into their own aggregation. */
  private[queries] def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // Cache MEASURED at the 1M probe (PERF.md "intra-query caches"):
    // 119.4 s cached vs 131.6 s recomputed — the sig frame is 16 B/doc
    // and feeds the band explode plus the occupancy guard's recursive
    // sub-banding, and recomputing re-runs the md5 kernel over the
    // whole corpus per consumer. Kept.
    val sigs = TextAnalysis.maybeCache(
      simhashSigsOf(spark, Tables.documents(spark, sfDir)))
    bandedHammingPairs(sigs, sigs, col("x.doc_id") < col("y.doc_id"))
  }

  /** Per-doc signature KERNEL: tokenization + md5 + bit majority in one
    * JIT'd pass, no explode shuffle and no 48 aggregate columns. The
    * construction matches the DuckDB oracle bit-for-bit: same \\W+
    * tokenizer, same first-12-hex-chars-of-md5 token hash. Takes the
    * docs frame (not sfDir) so [[dedupDelta]] can run it over a base or
    * delta slice; caller decides caching. */
  private def simhashSigsOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val toks = text.toLowerCase(java.util.Locale.ROOT)
            .split("\\W+").iterator.filter(_.nonEmpty)
          val bitCounts = new Array[Long](SimBits)
          var n = 0L
          toks.foreach { tok =>
            md.reset()
            val d = md.digest(tok.getBytes("UTF-8"))
            // first 12 hex chars == first 6 bytes, big-endian
            var h = 0L
            var k = 0
            while (k < 6) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
            var b = 0
            while (b < SimBits) {
              bitCounts(b) += (h >> b) & 1L
              b += 1
            }
            n += 1
          }
          // Zero-token docs have no content to hash: emit NOTHING, exactly
          // like the oracle's unnest (no token rows -> no sig row). Emitting
          // sig=0 instead would pair every blank doc with every other at
          // hamming 0 — an O(blank²) explosion on real crawl data — and
          // diverge from the DuckDB twin.
          if (n == 0) Iterator.empty
          else {
            var sig = 0L
            var b = 0
            while (b < SimBits) {
              if (bitCounts(b) * 2 > n) sig |= (1L << b)
              b += 1
            }
            Iterator.single((id, sig))
          }
        }
      }.toDF("doc_id", "simhash")
  }

  /** Banded Hamming-≤3 pair generation with the occupancy guard,
    * generalized to a LEFT frame probing a RIGHT frame: [[simhashPairs]]
    * passes the same sig frame twice (classic self-join); [[dedupDelta]]
    * passes (delta sigs, delta ∪ base sigs) so right-right combinations
    * are never enumerated and per-probe cost tracks |left|, not
    * |right|². `dedupe` (over aliases `x` = left, `y` = right) must make
    * each unordered pair emit exactly once. Extra columns on either
    * frame ride through bucket construction and are visible to `dedupe`
    * (the delta path's `is_delta` flag). */
  private[queries] def bandedHammingPairs(l: DataFrame, r: DataFrame,
                                          dedupe: Column): DataFrame = {
    val bands = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 12).bitwiseAND(0xFFF).as("chunk")))
    def bucketsOf(df: DataFrame): DataFrame = df
      .withColumn("bk", explode(array(bands: _*)))
      .withColumn("band", col("bk.band"))
      .withColumn("chunk", col("bk.chunk"))
      .drop("bk")
    val lb = bucketsOf(l)
    val buckets = bucketsOf(r)

    // OCCUPANCY GUARD (the vocabulary-collapse defense): a band bucket
    // with m members emits m² candidates from one join task — fine when
    // E[m] = n/4096, superlinear when a collapsed signature space (the
    // 31-word-vocab probe corpus: 4.3× time for 2× docs at 500k) crams
    // docs into few chunks. Buckets above the bound are RECURSIVELY
    // BANDED on their remaining 36 signature bits (4 sub-bands × 9
    // bits): two docs sharing an intact 12-bit band chunk are hamming-≤3
    // iff ≤3 of their other 36 bits differ, so by the same pigeonhole
    // at least one 9-bit sub-band is intact — recall stays exactly 1,
    // and a hot bucket's m² collapses to its sub-bucket sums (≈ m²/512
    // when sub-chunks spread). The hot-key set is ≤ 4·4096 rows by
    // construction — always a broadcast, so routing costs no extra
    // shuffle of the bucket stream. The bound is a per-task state bound
    // (1024² = 1M popcounts ≈ ms), not a scale constant — it does not
    // move with corpus size, executors just see more sub-bucket tasks.
    // True signature DUPLICATES (hamming 0 en masse) still emit their
    // inherent m² real pairs — that corpus wants minhash/exact dedup,
    // the documented in-family fallback.
    val hotKeys = buckets.groupBy("band", "chunk")
      .agg(count(lit(1)).as("m")).filter(col("m") > HotBucketBound)
      .select("band", "chunk")
    def pairs(xf: DataFrame, yf: DataFrame, keys: Seq[String]): DataFrame = {
      val cond = keys.map(k => col(s"x.$k") === col(s"y.$k"))
        .reduce(_ && _) && dedupe
      xf.as("x").join(yf.as("y"), cond)
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
    }
    def coldOf(bk: DataFrame): DataFrame =
      bk.join(broadcast(hotKeys), Seq("band", "chunk"), "left_anti")
    // remaining-36-bit view for a hot row: the three other 12-bit chunks
    // in ascending band order, packed little-endian
    val rem = (0 until 4).map { b =>
      val e = (0 until 4).filter(_ != b).zipWithIndex.map { case (k, i) =>
        shiftright(col("simhash"), k * 12).bitwiseAND(lit(0xFFFL)) * lit(1L << (12 * i))
      }.reduce(_ + _)
      (b, e)
    }.foldLeft(lit(0L)) { case (acc, (b, e)) => when(col("band") === b, e).otherwise(acc) }
    def hotSubOf(bk: DataFrame): DataFrame =
      bk.join(broadcast(hotKeys), Seq("band", "chunk"), "left_semi")
        .withColumn("rem", rem)
        .withColumn("sk", explode(array((0 until 4).map(s =>
          struct(lit(s).as("sb"),
            shiftright(col("rem"), s * 9).bitwiseAND(0x1FF).as("sc"))): _*)))
        .withColumn("sb", col("sk.sb"))
        .withColumn("sc", col("sk.sc"))
        .drop("sk", "rem")
    pairs(coldOf(lb), coldOf(buckets), Seq("band", "chunk"))
      .union(pairs(hotSubOf(lb), hotSubOf(buckets), Seq("band", "chunk", "sb", "sc")))
      // filter BEFORE distinct: hamming is a pure function of the pair,
      // so the sets are identical — but this way the join's candidate
      // stream is popcount-pruned in its own stage and the distinct
      // shuffles only true near-dup pairs, not m² candidates
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** Cross-source near-dup matrix: how many simhash near-dup pairs link
    * each (unordered) pair of sources — the dataset-card view that says
    * WHERE the duplication lives (intra-source boilerplate vs one source
    * mirroring another; the decision input for source-level dedup
    * ordering). Pairs are dup-density-sized — vastly smaller than the
    * corpus — so both enrichment joins broadcast the pair side under AQE;
    * output is ≤|sources|² rows. */
  def dupPairSources(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    simhashPairs(spark, sfDir)
      .join(src.toDF("doc_a", "source_a"), "doc_a")
      .join(src.toDF("doc_b", "source_b"), "doc_b")
      .groupBy(least(col("source_a"), col("source_b")).as("source_x"),
        greatest(col("source_a"), col("source_b")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_x", "source_y")
  }

  /** Shared DuckDB CTE chain producing the per-doc simhash signature —
    * identical to the Spark kernel bit-for-bit (same \W+ tokenizer, same
    * first-12-hex-chars-of-md5 token hash, same majority vote). */
  private val simhashSigCtes: String = {
    val bitSumSql = (0 until SimBits).map(b =>
      s"sum((h >> $b) & 1) AS b$b").mkString(",\n                  ")
    val simhashSql = (0 until SimBits).map(b =>
      s"(CASE WHEN b$b * 2 > n_tok THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""t AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'),
       |                          x -> length(x) > 0)) AS tok
       |           FROM documents),
       |     th AS (SELECT doc_id,
       |                   CAST(CAST('0x' || substr(md5(tok), 1, 12) AS UBIGINT) AS BIGINT) AS h
       |            FROM t),
       |     bs AS (SELECT doc_id,
       |                  $bitSumSql,
       |                  count(*) AS n_tok
       |            FROM th GROUP BY doc_id),
       |     sig AS (SELECT doc_id, $simhashSql AS simhash FROM bs)""".stripMargin
  }

  /** Oracle = brute-force Hamming over the identically-constructed
    * signature (md5-derived, so DuckDB reproduces it bit-for-bit). */
  val simhashDedupSql: String =
    s"""WITH $simhashSigCtes
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  val dupPairSourcesSql: String =
    s"""WITH $simhashSigCtes,
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
       |SELECT least(da.source, db.source) AS source_x,
       |       greatest(da.source, db.source) AS source_y,
       |       count(*) AS n_pairs
       |FROM pairs
       |JOIN documents da ON pairs.doc_a = da.doc_id
       |JOIN documents db ON pairs.doc_b = db.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // Duplicate-cluster resolution (connected components)
  // --------------------------------------------------------------------

  /** Dup-cluster resolution — the step every dedup pipeline needs AFTER
    * pair generation: near-dup pairs are edges of an undirected graph;
    * transitively-connected docs form one cluster; keep the minimum
    * doc_id per cluster, drop the rest. Pairs come from [[simhashDedup]]
    * (provable recall at hamming ≤ 3, so the edge set equals the
    * brute-force oracle's).
    *
    * Two paths, switched on edge count — the same optimization
    * production CC implementations make (GraphFrames, the VLDB
    * "CC in MapReduce" line): near-dup edge sets are a tiny fraction of
    * the corpus (dup density, not n), so:
    *  - **edges ≤ localCcMaxEdges** (default 10M ≈ 160 MB): ONE
    *    executor-side union-find task over the coalesced edge list —
    *    O(E α(E)) sequential, but E is small by construction; no loop,
    *    no per-round job overhead. This is `mapPartitions` on an
    *    executor, NOT a driver collect.
    *  - **above**: alternating LARGE-STAR / SMALL-STAR rounds (Kiveris
    *    et al., "Connected Components in MapReduce and Beyond", SoCC
    *    2014). Large-star points every larger neighbor of u at
    *    m = min(Γ(u) ∪ {u}); small-star folds each node's smaller
    *    neighborhood onto its minimum. Both preserve connectivity, both
    *    strictly shrink the potential function, and the edge set
    *    CONTRACTS as it converges (O(log n) rounds; in practice ~3-5) —
    *    unlike min-label propagation, which keeps the full edge set
    *    alive every round and re-densifies it through the neighbor
    *    join (the 50× probe measured 429 s there, dominated by exactly
    *    that). Convergence = two consecutive rounds with identical
    *    (count, hash-sum) signature, followed by an explicit
    *    star-forest VALIDATION (every child has exactly one parent, no
    *    parent is a child) so a signature collision can fail loudly
    *    instead of mislabeling.
    *
    * Round results persist via `localCheckpoint` by default (fast, but
    * lineage pins to executor storage — an executor loss mid-loop kills
    * the job). Set `graft.cc.reliableCheckpoint=true` to use reliable
    * `checkpoint` instead (HDFS-backed via the session checkpoint dir):
    * survives executor loss at the cost of one distributed write per
    * round — the right trade on a 1000-executor 100 TB run, where a
    * multi-hour job WILL lose executors.
    *
    * Only edge-touching docs enter either path: singletons (the
    * overwhelming mass at 100 TB) never shuffle. Both paths produce the
    * identical labeling (DedupSpec runs both, plus the reliable-
    * checkpoint variant). */
  /** Pure union-find over an edge list → (node, component-min) labels.
    * Path compression + union by attachment toward the smaller root id —
    * parent pointers only ever decrease, so every root is its
    * component's minimum by construction. Shared by the query's local
    * path and PropertiesSpec (checked against BFS labeling on random
    * graphs). */
  private[graft] def unionFindLabels(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    parent.keySet.forEach { k => out += ((k, find(k))) }
    out.iterator
  }

  /** One large-star round: for every node u (over the SYMMETRIZED
    * neighborhood), point each strictly-larger neighbor at
    * m = min(Γ(u) ∪ {u}). Connectivity-preserving (Kiveris et al. lemma
    * 1); output edges all satisfy dst < src except transient (v, m)
    * where m came from a smaller neighborhood. */
  private def largeStar(e: DataFrame): DataFrame = {
    val nb = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = nb.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    nb.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** One small-star round: orient every edge (larger, smaller); each node
    * folds its smaller neighborhood (plus itself) onto that
    * neighborhood's minimum. */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val mins = or.groupBy("src").agg(min("dst").as("m"))
    or.join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(mins.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  def dedupClusters(spark: SparkSession, sfDir: String,
                    localCcMaxEdges: Long = 10_000_000L): DataFrame = {
    val labels = ccLabelsOf(spark,
      simhashPairs(spark, sfDir).select(col("doc_a"), col("doc_b")),
      localCcMaxEdges)
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "comp")
      .select(col("doc_id"), col("comp").as("canonical_id"),
        (col("doc_id") === col("comp")).as("keep"), col("n_members"))
      .orderBy("doc_id")
  }

  /** Connected-component labels (node → component-min) over an arbitrary
    * (doc_a, doc_b) edge frame — the CC engine extracted from
    * [[dedupClusters]] so [[dedupDelta]] can run it over the contracted
    * delta edge set. Small edge sets take the single-task union-find;
    * larger ones the large-star/small-star fixpoint with the star-forest
    * proof. Returns only edge-touching nodes as (doc_id, comp). */
  private[queries] def ccLabelsOf(spark: SparkSession, pairs: DataFrame,
                         localCcMaxEdges: Long = 10_000_000L): DataFrame = {
    import spark.implicits._
    // reliable (HDFS-style) checkpointing per round, for clusters where
    // executor loss mid-loop is expected; default stays localCheckpoint
    // (sandbox / short jobs)
    val reliable = spark.conf.getOption("graft.cc.reliableCheckpoint")
      .exists(_.toBoolean)
    if (reliable && spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(Substrate.sessionDir(spark, "graft_ckpt_"))
    def persistStep(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val sym = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").cache()
    val nEdges = sym.count() / 2
    val labels =
      if (nEdges <= localCcMaxEdges) {
        // single-task union-find, fed from the CACHED symmetric edge list
        // (src < dst recovers the original pairs) — going back to `pairs`
        // would re-run the whole simhash candidate pipeline, whose cache
        // sits on `sym`
        sym.filter(col("src") < col("dst")).as[(Long, Long)].coalesce(1)
          .mapPartitions(it => unionFindLabels(it))
          .toDF("doc_id", "comp")
          // materialize once — the two consumers below (size agg + join)
          // would otherwise each re-run the union-find task
          .localCheckpoint()
      } else {
        // (count, xor-of-hashes): order-independent, overflow-free (sum
        // would trip ANSI overflow); xor cancellation needs duplicate
        // rows, which distinct() rules out — and the star-forest check
        // below catches a collision loudly anyway
        def sig(e: DataFrame): (Long, Long) = {
          val r = e.agg(count(lit(1)),
            coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
        var e = persistStep(sym.filter(col("src") < col("dst")))
        var s = sig(e)
        var converged = false
        var iter = 0
        while (!converged && iter < 32) {
          val next = persistStep(smallStar(largeStar(e)))
          val ns = sig(next)
          converged = ns == s
          e = next; s = ns
          iter += 1
        }
        if (!converged)
          throw new IllegalStateException(
            s"dedupClusters: large-star/small-star did not converge in $iter rounds")
        // loud, not silently wrong: the signature equality above could in
        // principle collide, so prove the fixpoint IS a star forest —
        // every child exactly one parent, no parent is itself a child —
        // before trusting it as the labeling
        val nChild = e.count()
        if (e.select("src").distinct().count() != nChild ||
            e.select(col("dst").as("src")).distinct()
              .join(e.select("src").distinct(), Seq("src"), "left_semi")
              .count() > 0)
          throw new IllegalStateException(
            "dedupClusters: converged edge set is not a star forest")
        e.select(col("src").as("doc_id"), col("dst").as("comp"))
          .union(e.select(col("dst").as("doc_id"), col("dst").as("comp")).distinct())
      }
    labels
  }

  /** Oracle: recursive transitive closure over the same simhash pairs,
    * min reachable id per doc (tiny at sf0.01 — 40 edges). */
  /** CONSENSUS DEDUP CLUSTERS — the high-precision ensemble mode: a
    * pair is an edge only when BOTH probabilistic layers flag it
    * (MinHash Jaccard ≥ 0.8 AND SimHash Hamming ≤ 3), then connected
    * components and a canonical keep-list, the [[dedupClusters]]
    * output contract. This is the standard precision-over-recall move
    * when deletion is irreversible: [[dedupMethodAgreement]] prices
    * how much the two layers disagree; this operator acts only on the
    * intersection, so a single layer's false positive cannot delete a
    * document. Scale: both pair streams are the banded-LSH pipelines
    * (cost tracks dup density); the intersection is an equi-join on
    * narrow pair keys; CC is the shared [[ccLabelsOf]] engine. */
  def dedupConsensus(spark: SparkSession, sfDir: String): DataFrame = {
    val mh = minhashLshDedup(spark, sfDir).select("doc_a", "doc_b")
    val sh = simhashPairs(spark, sfDir).select("doc_a", "doc_b")
    val labels = ccLabelsOf(spark, mh.join(sh, Seq("doc_a", "doc_b")))
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "comp")
      .select(col("doc_id"), col("comp").as("canonical_id"),
        (col("doc_id") === col("comp")).as("keep"), col("n_members"))
      .orderBy("doc_id")
  }

  /** Oracle: both layers by their exact definitions (the
    * [[dedupMethodAgreementSql]] twins), intersected, then the
    * [[dedupClustersSql]] recursive-CC labeling. */
  val dedupConsensusSql: String =
    s"""WITH RECURSIVE $shinglesSqlCte,
       |$shingleHashSqlCte,
       |$simhashSigCtes,
       |mhp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |        FROM hv a JOIN hv b ON a.doc_id < b.doc_id
       |        WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |              / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
       |              >= 0.8),
       |shp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |p AS (SELECT m.doc_a, m.doc_b FROM mhp m
       |      JOIN shp s ON s.doc_a = m.doc_a AND s.doc_b = m.doc_b),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach(doc_id, m) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.src, r.m FROM e JOIN reach r ON e.dst = r.doc_id),
       |lab AS (SELECT doc_id, min(m) AS canonical_id FROM reach GROUP BY doc_id)
       |SELECT doc_id, canonical_id, doc_id = canonical_id AS keep,
       |       count(*) OVER (PARTITION BY canonical_id) AS n_members
       |FROM lab ORDER BY doc_id""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $simhashSigCtes,
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach(doc_id, m) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.src, r.m FROM e JOIN reach r ON e.dst = r.doc_id),
       |lab AS (SELECT doc_id, min(m) AS canonical_id FROM reach GROUP BY doc_id)
       |SELECT doc_id, canonical_id, doc_id = canonical_id AS keep,
       |       count(*) OVER (PARTITION BY canonical_id) AS n_members
       |FROM lab ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Materialized cluster intermediate (write-once pipeline composition)
  // --------------------------------------------------------------------

  /** Write-once materialization of [[dedupClusters]] — pipeline
    * COMPOSITION, the thing the reference's every-job-recomputes model
    * can't do: [[dedupCanonical]] and [[dedupStats]] both need the
    * cluster labels, and at 100 TB re-running simhash + connected
    * components per consumer IS the dominant cost (2.2 s each of the
    * r3 bench; hours each at scale). The first consumer in a session
    * writes the labels to a [[graft.Substrate]] sink; every later
    * consumer gets a plain FileSourceScan of the tiny label table
    * (dup-mass rows, 4 columns) instead of a CC pipeline. The standalone
    * `dedup_clusters` query keeps computing live, anchoring the oracle
    * (and therefore this parquet's contents) every round. */
  def dedupClustersMaterialized(spark: SparkSession, sfDir: String): DataFrame =
    Substrate.materialize(spark, "graft_clusters_", sfDir)(
      dedupClusters(spark, sfDir))

  // --------------------------------------------------------------------
  // Incremental dedup: label a delta shard against the standing index
  // --------------------------------------------------------------------

  private val DeltaMod = 10L
  private val DeltaRes = 7L

  /** Incremental dedup of a DELTA shard against a standing corpus index —
    * the shape a 100 TB pipeline actually runs: the corpus arrives in
    * shards, and recomputing simhash + connected components over the
    * whole union per shard ([[dedupClusters]]) costs O(|corpus|) when the
    * new information is O(|delta|). The fixture contract has one corpus
    * dir, so the shard boundary is deterministic: docs with
    * `doc_id % DeltaMod == DeltaRes` (10%) are the delta; the rest is
    * the base. The base's standing artifacts — its simhash signatures
    * and its cluster labels — are built write-once per session
    * ([[Substrate.materialize]], the [[dedupClustersMaterialized]] engine);
    * in production they are maintained incrementally too.
    *
    * The delta pass: (1) signature kernel over delta docs only;
    * (2) banded candidate join of delta sigs against delta ∪ base sigs —
    * [[bandedHammingPairs]] never enumerates base-base combinations, so
    * join work tracks |delta| × occupancy; (3) CONTRACT base endpoints
    * to their cluster canonical (base-base connectivity is already
    * paid for in the index — a delta doc reaching any member of a base
    * cluster reaches its canonical); (4) connected components over the
    * contracted edge set only (delta-delta + delta-to-canonical,
    * dup-density-sized). Because base canonicals ARE their clusters'
    * min ids, min-id labels over the contracted graph equal the labels
    * a full recompute over base ∪ delta would give the delta docs —
    * which is exactly what the oracle checks (recursive CTE over the
    * union, restricted to delta docs).
    *
    * Emits per delta doc: (doc_id, canonical_id, keep, new_content) —
    * new_content = its component contains no base doc (genuinely novel
    * text vs a near-dup of the standing corpus). Base labels can go
    * stale when a delta doc bridges two base clusters — inherent to
    * incremental labeling; the readout scopes to delta docs, where the
    * contraction argument makes the labels exact.
    *
    * At 100 TB: the per-shard cost is the delta kernel + a band-bucket
    * probe of the sig index (bucketed by (band, chunk) in production, so
    * the probe prunes to touched buckets) + CC over the shard's dup
    * edges. The occupancy stats behind the hot-bucket guard are one agg
    * over the 16 B/doc sig index here; a production index would keep
    * them as standing metadata. ScaleProbe measures the warm-index delta
    * pass at 1% vs 10% shards to pin |delta|-scaling. */
  def dedupDelta(spark: SparkSession, sfDir: String,
                 deltaMod: Long = DeltaMod): DataFrame = {
    require(deltaMod > 1, s"deltaMod must be > 1, got $deltaMod")
    val deltaRes = DeltaRes % deltaMod
    val docs = Tables.documents(spark, sfDir)
    val baseDocs = docs.filter(col("doc_id") % deltaMod =!= deltaRes)
    val deltaDocs = docs.filter(col("doc_id") % deltaMod === deltaRes)
    val baseSigs = Substrate.materialize(spark, s"graft_base_sigs_m${deltaMod}_", sfDir)(
      simhashSigsOf(spark, baseDocs))
    val baseLabels = Substrate.materialize(spark, s"graft_base_labels_m${deltaMod}_", sfDir)(
      ccLabelsOf(spark,
        bandedHammingPairs(baseSigs, baseSigs,
          col("x.doc_id") < col("y.doc_id")).select("doc_a", "doc_b")))
    val deltaSigs = simhashSigsOf(spark, deltaDocs)
    val allSigs = deltaSigs.withColumn("is_delta", lit(true))
      .unionByName(baseSigs.withColumn("is_delta", lit(false)))
    // each unordered pair once: delta-delta by id order, delta-base
    // always (left side is delta-only, so base-base never appears)
    val edges = bandedHammingPairs(deltaSigs, allSigs,
        !col("y.is_delta") || col("x.doc_id") < col("y.doc_id"))
      .select("doc_a", "doc_b")
    val canon = baseLabels.select(col("doc_id").as("doc_b"),
      col("comp").as("b_canon"))
    val contracted = edges.join(canon, Seq("doc_b"), "left")
      .select(col("doc_a"), coalesce(col("b_canon"), col("doc_b")).as("doc_b"))
      .distinct()  // two base members of one cluster contract to one edge
    val touched = ccLabelsOf(spark, contracted)
      .select(col("doc_id"), col("comp"))
    val hasBase = touched.groupBy("comp").agg(
      max((col("doc_id") % deltaMod =!= deltaRes).cast("int")).as("hb"))
    deltaDocs.select(col("doc_id"))
      .join(touched.join(hasBase, "comp"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("canonical_id"),
        (col("doc_id") === coalesce(col("comp"), col("doc_id"))).as("keep"),
        (coalesce(col("hb"), lit(0)) === 0).as("new_content"))
      .orderBy("doc_id")
  }

  /** Oracle: FULL-RECOMPUTE ground truth — the recursive-CTE transitive
    * closure of [[dedupClustersSql]] over base ∪ delta (i.e. all
    * documents), restricted to the delta docs. Agreement here IS the
    * incremental algorithm's correctness claim: contraction through base
    * canonicals must reproduce exactly what recomputing from scratch
    * would say about the new shard. */
  val dedupDeltaSql: String =
    s"""WITH RECURSIVE $simhashSigCtes,
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach(doc_id, m) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.src, r.m FROM e JOIN reach r ON e.dst = r.doc_id),
       |lab AS (SELECT doc_id, min(m) AS canonical_id FROM reach GROUP BY doc_id),
       |cb AS (SELECT canonical_id,
       |              max(CASE WHEN doc_id % $DeltaMod <> $DeltaRes THEN 1 ELSE 0 END) AS hb
       |       FROM lab GROUP BY canonical_id),
       |dd AS (SELECT doc_id FROM documents WHERE doc_id % $DeltaMod = $DeltaRes)
       |SELECT dd.doc_id AS doc_id,
       |       COALESCE(lab.canonical_id, dd.doc_id) AS canonical_id,
       |       dd.doc_id = COALESCE(lab.canonical_id, dd.doc_id) AS keep,
       |       COALESCE(cb.hb, 0) = 0 AS new_content
       |FROM dd LEFT JOIN lab ON dd.doc_id = lab.doc_id
       |        LEFT JOIN cb ON lab.canonical_id = cb.canonical_id
       |ORDER BY dd.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Canonical-document selection (quality-ranked survivor per cluster)
  // --------------------------------------------------------------------

  /** Canonical-doc selection — the last step of a production dedup
    * pipeline: [[dedupClusters]] labels transitively-connected near-dups;
    * this picks WHICH member of each cluster survives. Min-id (what
    * `dedupClusters.keep` encodes) is the usual arbitrary choice; the
    * better policy is "keep the highest-quality member" — rank cluster
    * members by the [[TextAnalysis.textQuality]] composite score
    * (tiebreak: lower doc_id) and keep the argmax.
    *
    * Scale shape: only edge-touching docs reach the join (the cluster
    * frame is the dup mass, a small fraction of the corpus — Spark
    * broadcasts it when under the threshold, AQE decides otherwise);
    * the quality side prunes to (doc_id, quality_score) before
    * shuffling, and the ranking window partitions by cluster_id —
    * cluster sizes are bounded by near-dup semantics, so no window
    * partition can grow with corpus size the way a global sort would. */
  def dedupCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = dedupClustersMaterialized(spark, sfDir)
      .select(col("doc_id"), col("canonical_id").as("cluster_id"),
        col("n_members"))
    val quality = TextAnalysis
      .qualityScoredFrame(graft.Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    clusters.join(quality, "doc_id")
      .withColumn("best_id", first("doc_id").over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        col("best_id"), (col("doc_id") === col("best_id")).as("keep"),
        col("n_members"))
      .orderBy("doc_id")
  }

  /** Oracle: the recursive-CTE clustering joined to the quality-score
    * subquery (same literal expression as text_quality's oracle, so the
    * ranking keys agree exactly — r4-rounded on both sides). */
  val dedupCanonicalSql: String =
    s"""WITH RECURSIVE $simhashSigCtes,
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach(doc_id, m) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.src, r.m FROM e JOIN reach r ON e.dst = r.doc_id),
       |lab AS (SELECT doc_id, min(m) AS cluster_id FROM reach GROUP BY doc_id),
       |q AS (SELECT doc_id, quality_score
       |      FROM (${TextAnalysis.textQualitySql}))
       |SELECT l.doc_id, l.cluster_id, q.quality_score,
       |       first_value(l.doc_id) OVER (PARTITION BY l.cluster_id
       |         ORDER BY q.quality_score DESC, l.doc_id) AS best_id,
       |       l.doc_id = first_value(l.doc_id) OVER (PARTITION BY l.cluster_id
       |         ORDER BY q.quality_score DESC, l.doc_id) AS keep,
       |       count(*) OVER (PARTITION BY l.cluster_id) AS n_members
       |FROM lab l JOIN q USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Dedup dataset-card summary
  // --------------------------------------------------------------------

  /** The dedup numbers a dataset card publishes: corpus size, exact-dup
    * coverage and removable-row count, near-dup cluster coverage and the
    * corresponding removable count — one (metric, value) row each, all
    * exact integers. Composes [[exactDedup]] and [[dedupClusters]]; each
    * branch is a grouped/derived aggregate funneling to one row, so the
    * query's cost is its inputs' and the output is 6 rows at any corpus
    * size. */
  def dedupStats(spark: SparkSession, sfDir: String): DataFrame = {
    def m(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("metric"), col("value").cast("long").as("value"))
    val exact = exactDedup(spark, sfDir).cache()
    // parquet scan of the materialized label table — tiny (dup-mass
    // rows), so three consuming branches just re-scan it, no cache needed
    val clusters = dedupClustersMaterialized(spark, sfDir)
    m("n_docs", Tables.documents(spark, sfDir)
        .agg(count(lit(1)).as("value")))
      .union(m("exact_dup_docs", exact.filter(col("n_copies") > 1)
        .agg(count(lit(1)).as("value"))))
      .union(m("exact_removable", exact.filter(!col("is_canonical"))
        .agg(count(lit(1)).as("value"))))
      .union(m("near_dup_docs", clusters.agg(count(lit(1)).as("value"))))
      .union(m("near_dup_clusters", clusters.filter(col("keep"))
        .agg(count(lit(1)).as("value"))))
      .union(m("near_dup_removable", clusters.filter(!col("keep"))
        .agg(count(lit(1)).as("value"))))
      .orderBy("metric")
  }

  /** Oracle: the exact-dedup hash groups plus the recursive-CTE
    * clustering, aggregated to the same six metrics. */
  val dedupStatsSql: String =
    s"""WITH RECURSIVE $simhashSigCtes,
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach(doc_id, m) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.src, r.m FROM e JOIN reach r ON e.dst = r.doc_id),
       |lab AS (SELECT doc_id, min(m) AS cluster_id FROM reach GROUP BY doc_id),
       |h AS (SELECT doc_id,
       |             md5(trim(regexp_replace(lower(text), '\\W+', ' ', 'g'))) AS ch
       |      FROM documents),
       |g AS (SELECT ch, min(doc_id) AS canon, count(*) AS n_copies
       |      FROM h GROUP BY ch)
       |SELECT metric, value FROM (
       |  SELECT 'n_docs' AS metric, count(*) AS value FROM documents
       |  UNION ALL
       |  SELECT 'exact_dup_docs', count(*) FROM h JOIN g USING (ch)
       |  WHERE n_copies > 1
       |  UNION ALL
       |  SELECT 'exact_removable', count(*) FROM h JOIN g USING (ch)
       |  WHERE doc_id <> canon
       |  UNION ALL
       |  SELECT 'near_dup_docs', count(*) FROM lab
       |  UNION ALL
       |  SELECT 'near_dup_clusters', count(*) FROM lab WHERE doc_id = cluster_id
       |  UNION ALL
       |  SELECT 'near_dup_removable', count(*) FROM lab WHERE doc_id <> cluster_id)
       |ORDER BY metric""".stripMargin

  /** DUPLICATE-CLUSTER SIZE DISTRIBUTION: how duplication mass is
    * shaped — many small pairs or a few mega-clusters — banded by
    * cluster size into power-of-two bands (band = bit length of the
    * size, an INTEGER binary-string length on both engines: Spark
    * `conv(s,10,2)` ↔ DuckDB `bin(s)`, no libm log2 anywhere near a
    * band boundary). Band 1 is the singleton mass (docs touching no
    * near-dup edge — total minus labeled, never materialized per doc);
    * each band reports cluster count, doc count, the band's smallest
    * representable size, and its share of the corpus. The [[dedupStats]]
    * six-pack says HOW MUCH duplication exists; this says how it is
    * DISTRIBUTED, which decides the removal strategy (pair-wise
    * canonical-keep vs cluster-cap sampling) a 100 TB dedup run applies.
    *
    * Scale: one scan of the materialized label table ([[
    * dedupClustersMaterialized]] — dup-mass rows), a bounded ≤64-band
    * agg, two 1-row aggregates for the singleton row. Empty corpus →
    * zero rows on both engines (the n_clusters > 0 guard). */
  def dupClusterSizeDist(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = dedupClustersMaterialized(spark, sfDir)
    val total = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n_total"))
    val labeled = clusters.agg(count(lit(1)).as("n_labeled"))
    val bands = clusters.filter(col("keep"))
      .groupBy(length(conv(col("n_members").cast("string"), 10, 2))
        .cast("int").as("band"))
      .agg(count(lit(1)).as("n_clusters"), sum("n_members").as("n_docs"))
    val singleton = broadcast(total).crossJoin(broadcast(labeled))
      .select(lit(1).as("band"),
        (col("n_total") - col("n_labeled")).as("n_clusters"),
        (col("n_total") - col("n_labeled")).as("n_docs"))
    bands.unionByName(singleton)
      .filter(col("n_clusters") > 0)
      .crossJoin(broadcast(total))
      .select(col("band"), col("n_clusters"), col("n_docs"),
        expr("shiftleft(CAST(1 AS BIGINT), band - 1)").as("min_size"),
        Det.r(col("n_docs").cast("double") / col("n_total"), 6).as("doc_share"))
      .orderBy("band")
  }

  /** Oracle: the [[dedupClustersSql]] recursive closure, cluster sizes
    * from the canonical rows, the identical bit-length banding. */
  val dupClusterSizeDistSql: String =
    s"""WITH RECURSIVE $simhashSigCtes,
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach(doc_id, m) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.src, r.m FROM e JOIN reach r ON e.dst = r.doc_id),
       |lab AS (SELECT doc_id, min(m) AS cluster_id FROM reach GROUP BY doc_id),
       |cs AS (SELECT cluster_id, count(*) AS n_members FROM lab GROUP BY 1),
       |bands AS (SELECT CAST(length(bin(n_members)) AS INT) AS band,
       |                 count(*) AS n_clusters,
       |                 CAST(sum(n_members) AS BIGINT) AS n_docs
       |          FROM cs GROUP BY 1
       |          UNION ALL
       |          SELECT 1,
       |                 (SELECT count(*) FROM documents)
       |                   - (SELECT count(*) FROM lab),
       |                 (SELECT count(*) FROM documents)
       |                   - (SELECT count(*) FROM lab)),
       |tot AS (SELECT count(*) AS n_total FROM documents)
       |SELECT band, n_clusters, n_docs,
       |       CAST(1 AS BIGINT) << (band - 1) AS min_size,
       |       ${Det.rSql("CAST(n_docs AS DOUBLE) / n_total", 6)} AS doc_share
       |FROM bands CROSS JOIN tot
       |WHERE n_clusters > 0
       |ORDER BY band""".stripMargin

  /** DEDUP-METHOD AGREEMENT: the 2×2 confusion between the two
    * probabilistic near-dup layers — is a doc flagged by the MinHash
    * path (Jaccard ≥ 0.8, [[minhashLshDedup]]) and/or the SimHash path
    * (Hamming ≤ 3, [[simhashDedup]]) — plus observed agreement and
    * Cohen's κ, the [[graft.queries.TextAnalysis.qualityAgreement]]
    * readout applied to dedup. A pipeline paying for two dedup passes
    * at 100 TB needs exactly this: κ→1 says they're redundant (drop
    * one), low κ with mass in both off-cells says they catch DIFFERENT
    * duplicate geometries (keep both).
    *
    * Scale: both substrates are the banded-LSH pipelines (cost tracks
    * dup density, not n²); per-doc flags are distinct-projected narrow
    * id rows, two left joins on doc_id, one single-row agg. Empty
    * corpus → zero rows (the n_docs > 0 guard, both engines). */
  def dedupMethodAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    def flagged(pairs: DataFrame, name: String): DataFrame =
      pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct().withColumn(name, lit(true))
    val mh = flagged(minhashLshDedup(spark, sfDir), "mh")
    val sh = flagged(simhashPairs(spark, sfDir), "sh")
    val j = Tables.documents(spark, sfDir).select("doc_id")
      .join(mh.select("doc_id", "mh"), Seq("doc_id"), "left")
      .join(sh.select("doc_id", "sh"), Seq("doc_id"), "left")
      .select(coalesce(col("mh"), lit(false)).as("mh"),
        coalesce(col("sh"), lit(false)).as("sh"))
    val cells = j.agg(
      count(lit(1)).as("n_docs"),
      count(when(col("mh") && col("sh"), 1)).as("both_dup"),
      count(when(col("mh") && !col("sh"), 1)).as("minhash_only"),
      count(when(!col("mh") && col("sh"), 1)).as("simhash_only"),
      count(when(!col("mh") && !col("sh"), 1)).as("neither"))
    val n = col("n_docs").cast("double")
    val po = (col("both_dup") + col("neither")) / n
    val pe = ((col("both_dup") + col("minhash_only")) / n) *
      ((col("both_dup") + col("simhash_only")) / n) +
      ((col("neither") + col("simhash_only")) / n) *
        ((col("neither") + col("minhash_only")) / n)
    cells.filter(col("n_docs") > 0)
      .select(col("n_docs"), col("both_dup"), col("minhash_only"),
        col("simhash_only"), col("neither"),
        Det.r(po, 6).as("po"),
        Det.r(when(pe < 1.0, (po - pe) / (lit(1.0) - pe)), 6).as("kappa"))
  }

  /** Oracle: both layers by their EXACT definitions (the per-query hash
    * gates already prove the LSH implementations equal these) — exact
    * Jaccard ≥ 0.8 over the shingle-hash sets, Hamming ≤ 3 over the
    * identically-constructed simhash — then the identical κ arithmetic. */
  val dedupMethodAgreementSql: String = {
    val n = "CAST(n_docs AS DOUBLE)"
    val po = s"(both_dup + neither) / $n"
    val pe = s"((both_dup + minhash_only) / $n) * ((both_dup + simhash_only) / $n)" +
      s" + ((neither + simhash_only) / $n) * ((neither + minhash_only) / $n)"
    s"""WITH $shinglesSqlCte,
       |$shingleHashSqlCte,
       |$simhashSigCtes,
       |mhp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |        FROM hv a JOIN hv b ON a.doc_id < b.doc_id
       |        WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |              / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
       |              >= 0.8),
       |shp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |mhd AS (SELECT DISTINCT doc_id FROM
       |        (SELECT doc_a AS doc_id FROM mhp
       |         UNION ALL SELECT doc_b FROM mhp)),
       |shd AS (SELECT DISTINCT doc_id FROM
       |        (SELECT doc_a AS doc_id FROM shp
       |         UNION ALL SELECT doc_b FROM shp)),
       |fl AS (SELECT m.doc_id IS NOT NULL AS mh, s.doc_id IS NOT NULL AS sh2
       |       FROM documents d
       |       LEFT JOIN mhd m ON m.doc_id = d.doc_id
       |       LEFT JOIN shd s ON s.doc_id = d.doc_id),
       |cells AS (SELECT count(*) AS n_docs,
       |                 count(CASE WHEN mh AND sh2 THEN 1 END) AS both_dup,
       |                 count(CASE WHEN mh AND NOT sh2 THEN 1 END) AS minhash_only,
       |                 count(CASE WHEN NOT mh AND sh2 THEN 1 END) AS simhash_only,
       |                 count(CASE WHEN NOT mh AND NOT sh2 THEN 1 END) AS neither
       |          FROM fl)
       |SELECT n_docs, both_dup, minhash_only, simhash_only, neither,
       |       ${Det.rSql(po, 6)} AS po,
       |       ${Det.rSql(s"CASE WHEN ($pe) < 1.0 THEN (($po) - ($pe)) / (1.0 - ($pe)) END", 6)} AS kappa
       |FROM cells WHERE n_docs > 0""".stripMargin
  }

  // --------------------------------------------------------------------
  // Embedding-cosine near-dup
  // --------------------------------------------------------------------

  /** Cosine near-dup pairs over `embeddings` (threshold 0.47, data-driven:
    * this corpus's pair distribution tops out at 0.513 with a clear gap
    * below 0.47 — nothing sits near the boundary, so exact compare is
    * safe).
    *
    * Exact all-pairs via a TRIANGLE BLOCK GRID: vectors hash into B
    * row-blocks; every block pair (bi ≤ bj) is one grid task. Each vector
    * is shuffled to the B tasks it participates in (side "x" of row bi,
    * side "y" of column bj), and `groupByKey(task).flatMapGroups` streams a
    * task's two blocks into plain heap arrays inside the kernel — NO
    * `collect_list`, so no single Spark row ever materializes a block (a
    * block-as-one-row layout hits the 2 GB record limit long before the
    * grid math helps). B is DERIVED, not hardcoded: the memory bound
    * ceil(n·vecBytes / 64 MiB) keeps both blocks of a task comfortably in
    * executor heap at any corpus size, with a floor of 8 (→ ≥36 grid
    * tasks) so small corpora still parallelize. Shuffle volume is B× the
    * corpus — the inherent cost of exact n² partitioning; the ANN queries
    * (`ann_cosine_lsh`/`ann_cosine_ivf`) are the sub-quadratic scale path.
    *
    * The kernel runs pairwise dot products as tight JIT'd loops. This
    * replaced a naive theta-join + `aggregate`/`zip_with` columns:
    * higher-order-function lambdas are interpreted per element, and at
    * 2M pairs × 64 dims that costed 33 s — the kernel does it in ~1 s.
    * Fold order (sequential 0..63) matches DuckDB's list_dot_product →
    * bit-identical cosines. */
  def embeddingCosineDups(spark: SparkSession, sfDir: String,
                          threshold: Double = 0.47): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
    // Two metadata-cheap driver actions (parquet row-count stats + one-row
    // head) size the grid; at 100 TB these cost seconds, not scans.
    val n = emb.count()
    val dim = if (n == 0) 0 else emb.head()._2.length
    val vecBytes = dim * 8L + 16
    val targetBlockBytes = 64L << 20
    val numBlocks =
      math.max(8L, math.ceil(n.toDouble * vecBytes / targetBlockBytes).toLong)
        .min(4096L).toInt
    val B = numBlocks
    // Replicate each vector to its B grid tasks: as side x of tasks
    // (b, bj≥b) and side y of tasks (bi<b, b). Task id = bi*B + bj.
    val tagged = emb.flatMap { case (id, v) =>
      val b = ((id % B + B) % B).toInt
      val asX = Iterator.range(b, B).map(bj => (b * B + bj, 0.toByte, id, v))
      val asY = Iterator.range(0, b).map(bi => (bi * B + b, 1.toByte, id, v))
      asX ++ asY
    }
    tagged.groupByKey(_._1).flatMapGroups { (task, rows) =>
      val bi = task / B; val bj = task % B
      val xb = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
      val yb = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
      rows.foreach { case (_, side, id, v) =>
        val a = v.toArray
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * a(i); i += 1 }
        val rec = (id, a, math.sqrt(s))
        if (side == 0) xb += rec else yb += rec
      }
      val xs = xb.sortBy(_._1).toArray
      val ys = if (bi == bj) xs else yb.sortBy(_._1).toArray
      // same block: enumerate ia < ib directly; cross block: every (x, y)
      // combination is one unordered pair — order the ids on emit (the
      // smaller id is NOT always in the lower-numbered block)
      for {
        (ia, va, na) <- xs.iterator
        (ib, vb, nb) <- ys.iterator
        if ia != ib && (bi != bj || ia < ib)
        cos = {
          var s = 0.0; var i = 0
          while (i < va.length) { s += va(i) * vb(i); i += 1 }
          math.floor(s / (na * nb) * 10000 + 0.5) / 10000
        }
        if cos >= threshold
      } yield (math.min(ia, ib), math.max(ia, ib), cos)
    }.toDF("vec_a", "vec_b", "cosine")
      .orderBy("vec_a", "vec_b")
  }

  val embeddingCosineDupsSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |     n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       CAST(floor((list_dot_product(a.v, b.v) / (a.norm * b.norm)) * 10000 + 0.5) AS DOUBLE) / 10000 AS cosine
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE CAST(floor((list_dot_product(a.v, b.v) / (a.norm * b.norm)) * 10000 + 0.5) AS DOUBLE) / 10000 >= 0.47
      |ORDER BY vec_a, vec_b""".stripMargin

  // --------------------------------------------------------------------
  // LSH-blocked embedding near-dup (the sub-quadratic scale path)
  // --------------------------------------------------------------------

  private val LshDedupTables = 8
  private val LshDedupMaxBucket = 4096
  private val LshDedupThreshold = 0.47

  /** Signature width DERIVED from corpus size (the `derivedIvfCells`
    * move): the smallest k with 2^k · 8 ≥ n, clamped to [6, 24] — i.e.
    * E[bucket] ≤ 8 members at any n, so per-bucket pairing stays
    * executor-local and total candidates stay ≤ tables·n·7/2 = LINEAR
    * in n with a small constant (the first cut targeted E[bucket] = 64
    * and died at the 500k probe: ~1.2e8 candidates × two 64-dim vector
    * joins ≈ 60 GB of verify shuffle). Near-dup recall is unaffected —
    * a cos ≥ 0.99 pair agrees per bit with p ≈ 0.95, so even 17-bit
    * signatures collide per table with p ≈ 0.43 and across 8 tables
    * with p ≈ 0.99. Computed by exact integer comparison (NOT
    * ceil(log2(...)): a libm log2 landing exactly on an integer
    * boundary could round differently across engines — the token_pmi
    * lesson). Fixture (n = 500) keeps 6 bits, the geometry the specs'
    * expectations were measured on. */
  private[graft] def derivedLshBits(n: Long): Int =
    math.max(6, (0 to 24).find(k => (1L << k) * 8 >= n).getOrElse(24))

  /** Sub-quadratic embedding near-dup — the scale path
    * [[embeddingCosineDups]]'s scaladoc promises: candidates come from
    * sign-LSH bucket collisions ([[Similarity.signaturesFor]], 8 tables
    * × [[derivedLshBits]]-bit signatures) instead of the exact triangle
    * grid, then exact cosine verifies each candidate at the same
    * rounded threshold, so the output is a DETERMINISTIC SUBSET of the
    * exact query's pairs (asserted in DedupSpec). Every step — LCG
    * hyperplanes, sign projections, bucketing, verify — is exact
    * arithmetic, so the DuckDB twin reproduces it bit-for-bit (the
    * [[Similarity.annCosineLshSql]] machinery with the bit-width CTE
    * computed from count(*) by the same integer comparison).
    *
    * Scale story: signature kernel is one linear pass; bucket sizes are
    * E[n/2^bits] ≤ 8 by construction ([[derivedLshBits]]); buckets above
    * [[LshDedupMaxBucket]] are DROPPED ON BOTH ENGINES (the winnow
    * df-cap pattern — a bucket that hot means collapsed geometry, not
    * dedup signal) so one degenerate region can never go quadratic;
    * candidate join + verify shuffle only (t, sig, vec_id) triples and
    * the candidate pairs. Recall is θ-dependent (sign-LSH math): ~1.0
    * for true near-dups (cos ≥ 0.99 — what dedup hunts; ScaleProbe
    * measures recall of the injected near-copies at probe scale) and
    * intentionally low at the fixture's weak-similarity geometry
    * (cos ≈ 0.5), where the exact query remains the labeled option. */
  def embeddingDupsLsh(spark: SparkSession, sfDir: String,
                       threshold: Double = LshDedupThreshold): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val all = Similarity.vecs(spark, sfDir)
    // one count() — scalar model state, the derivedIvfCells precedent
    val bits = derivedLshBits(all.count())
    // cache MEASURED at the 1M probe (PERF.md): the sig frame is consumed
    // three times (bucket sizing + both sides of the pairing join) and
    // each recompute re-runs the tables·bits·64-mult projection kernel
    // over the corpus — 350.9 s uncached vs 165.6 s cached at 1M vectors.
    // Footprint is bounded: n·tables rows of (long, int, int)
    val sigs = TextAnalysis.maybeCache(
      Similarity.signaturesFor(spark, all, LshDedupTables, bits))
    val ok = sigs.groupBy("t", "sig").agg(count(lit(1)).as("m"))
      .filter(col("m") >= 2 && col("m") <= LshDedupMaxBucket)
      .select("t", "sig")
    val mem = sigs.join(ok, Seq("t", "sig"))
    val cands = mem.select(col("t"), col("sig"), col("vec_id").as("vec_a"))
      .join(mem.select(col("t"), col("sig"), col("vec_id").as("vec_b")),
        Seq("t", "sig"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val nn = all.select(col("vec_id"), col("v"), col("norm"))
    cands
      .join(nn.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("norm").as("na")), "vec_a")
      .join(nn.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("norm").as("nb")), "vec_b")
      .withColumn("cosine", Det.r(
        graft.functions.VectorFunctions.array_dot(col("va"), col("vb")) /
          (col("na") * col("nb")), 4))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
      .orderBy("vec_a", "vec_b")
  }

  /** DuckDB twin of [[embeddingDupsLsh]] — the annCosineLshSql plane
    * machinery with (a) the bit width computed from count(*) by the
    * same exact integer rule (range() can't take subquery bounds, so b
    * spans the constant max and filters against the params CTE) and
    * (b) the occupancy cap mirrored as a HAVING-style bucket filter. */
  val embeddingDupsLshSql: String =
    s"""WITH RECURSIVE
       |ks AS (SELECT unnest(range(0, 25)) AS k),
       |params AS (SELECT greatest(6, coalesce(
       |             (SELECT min(k) FROM ks
       |              WHERE (CAST(1 AS BIGINT) << k) * 8 >= (SELECT count(*) FROM embeddings)),
       |             24)) AS bits),
       |tb AS (SELECT t, b FROM range(0, $LshDedupTables) r1(t)
       |       CROSS JOIN (SELECT unnest(range(0, 24)) AS b) r2
       |       CROSS JOIN params WHERE b < params.bits),
       |seeds AS (SELECT t, b,
       |    CAST(xor(xor(CAST(-7046029254386353131 AS BIGINT), t * 4294967296), b * 256) AS HUGEINT)
       |      + CASE WHEN xor(xor(CAST(-7046029254386353131 AS BIGINT), t * 4294967296), b * 256) < 0
       |             THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS st
       |  FROM tb),
       |pl AS (
       |  SELECT t, b, 0 AS d, st AS state FROM seeds
       |  UNION ALL
       |  SELECT t, b, d + 1,
       |         (state * 6364136223846793005 + 1442695040888963407) % CAST(18446744073709551616 AS HUGEINT)
       |  FROM pl WHERE d < 64),
       |wl AS (SELECT t, b, list(CAST(state // 2048 AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0 ORDER BY d) AS wv
       |       FROM pl WHERE d >= 1 GROUP BY t, b),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
       |sigs AS (SELECT e.vec_id, w.t,
       |           CAST(sum(CASE WHEN list_dot_product(e.v, w.wv) > 0 THEN (1 << w.b) ELSE 0 END) AS INT) AS sig
       |         FROM e CROSS JOIN wl w GROUP BY e.vec_id, w.t),
       |ok AS (SELECT t, sig FROM (SELECT t, sig, count(*) AS m FROM sigs GROUP BY 1, 2)
       |       WHERE m BETWEEN 2 AND $LshDedupMaxBucket),
       |mem AS (SELECT s.vec_id, s.t, s.sig FROM sigs s JOIN ok USING (t, sig)),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM mem a JOIN mem b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b,
       |       CAST(floor((list_dot_product(x.v, y.v) / (x.norm * y.norm)) * 10000 + 0.5) AS DOUBLE) / 10000 AS cosine
       |FROM cand JOIN n x ON vec_a = x.vec_id JOIN n y ON vec_b = y.vec_id
       |WHERE CAST(floor((list_dot_product(x.v, y.v) / (x.norm * y.norm)) * 10000 + 0.5) AS DOUBLE) / 10000 >= $LshDedupThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  // --------------------------------------------------------------------
  // SemDeDup: semantic dedup via coarse-quantizer clustering
  // --------------------------------------------------------------------

  private val SemTau = 0.47

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication that finds meaning-level duplicates exact-cosine
    * dedup at high thresholds misses and n² comparison can't afford —
    * cluster the embeddings, then compare pairs ONLY within a cluster.
    * The clustering stage here IS the IVF coarse quantizer
    * ([[Similarity.ivfAssigned]] — spherical k-means, √(n/2) cells,
    * memoized per corpus): a vector's semantic duplicates share its
    * nearest centroid. Within each cell, pairs with 4dp-rounded cosine
    * ≥ [[SemTau]] are semantic dups; the survivor rule is
    * keep-lowest-id (a vector is dropped iff an earlier same-cell
    * vector sits within tau — `dup_of` names the earliest such, the
    * [[embeddingCosineDups]] pair convention, NO transitive closure:
    * that lives in [[dedupClusters]]).
    *
    * Scale: pair cost is Σ_cells |cell|² ≈ n^1.5 at derived cell counts
    * (cells ~ √n ⇒ E|cell| ~ √n) vs the exact grid's n² — the paper's
    * point. Cell-size skew is the risk (one hot cell re-quadratifies);
    * the treatment at 100 TB is the simhash family's occupancy guard —
    * split hot cells by a secondary hash — documented here, not
    * triggered at probe scales (measured: cell-size p99 stays ~2× mean
    * on the LCG corpus). Determinism: assignments are the hash-gated
    * IVF chain; cosine is the shared ascending fold, rounded to 4dp
    * BEFORE the threshold on both engines. */
  def semDedup(spark: SparkSession, sfDir: String,
               tau: Double = SemTau): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val assigned = Similarity.ivfAssigned(spark, sfDir)
    val av = assigned.join(Similarity.vecs(spark, sfDir), "vec_id")
    val left = av.select(col("cell"), col("vec_id").as("va"),
      col("v").as("xa"), col("norm").as("na"))
    val right = av.select(col("cell"), col("vec_id").as("vb"),
      col("v").as("xb"), col("norm").as("nb"))
    val dupOf = left.join(right, "cell")
      .filter(col("va") < col("vb"))
      .filter(Det.r(
        graft.functions.VectorFunctions.array_dot(col("xa"), col("xb"))
          / (col("na") * col("nb")), 4) >= tau)
      .groupBy(col("vb").as("vec_id")).agg(min("va").as("dup_of"))
    assigned.join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of").isNull.as("keep"), col("dup_of"))
      .orderBy("vec_id")
  }

  /** DuckDB twin of [[semDedup]] — [[Similarity.ivfChainSql]]'s exact
    * all-vector assignment (`fin`) + the within-cell pair join. */
  val semDedupSql: String =
    s"""WITH ${Similarity.ivfChainSql},
       |pr AS (
       |  SELECT fa.vec_id AS va, fb.vec_id AS vb
       |  FROM fin fa JOIN fin fb ON fa.cell = fb.cell AND fa.vec_id < fb.vec_id
       |  JOIN nv a ON a.vec_id = fa.vec_id
       |  JOIN nv b ON b.vec_id = fb.vec_id
       |  WHERE CAST(floor(list_dot_product(a.v, b.v) / (a.norm * b.norm)
       |                   * 10000 + 0.5) AS DOUBLE) / 10000 >= $SemTau),
       |dup AS (SELECT vb AS vec_id, min(va) AS dup_of FROM pr GROUP BY vb)
       |SELECT f.vec_id, f.cell, d.dup_of IS NULL AS keep, d.dup_of
       |FROM fin f LEFT JOIN dup d ON d.vec_id = f.vec_id
       |ORDER BY f.vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "exact_dedup"          -> ((s, d) => exactDedup(s, d)),
    "para_dedup"           -> ((s, d) => paraDedup(s, d)),
    "para_dedup_stats"     -> ((s, d) => paraDedupStats(s, d)),
    "substring_dedup"      -> ((s, d) => substringDedup(s, d)),
    "pipeline_funnel"      -> ((s, d) => pipelineFunnel(s, d)),
    "ngram_jaccard_dedup"  -> ((s, d) => ngramJaccardPairs(s, d)),
    "dedup_threshold_curve" -> ((s, d) => dedupThresholdCurve(s, d)),
    "containment_pairs"    -> ((s, d) => containmentPairs(s, d)),
    "containment_pairs_sketch" -> ((s, d) => containmentPairsSketch(s, d)),
    "containment_sketch_coverage" -> ((s, d) => containmentSketchCoverage(s, d)),
    "minhash_lsh_dedup"    -> ((s, d) => minhashLshDedup(s, d)),
    "dedup_gate_replay"    -> ((s, d) => dedupGateReplay(s, d)),
    "simhash_dedup"        -> ((s, d) => simhashDedup(s, d)),
    "dup_pair_sources"     -> ((s, d) => dupPairSources(s, d)),
    "embedding_cosine_dedup" -> ((s, d) => embeddingCosineDups(s, d)),
    "embedding_dedup_lsh"  -> ((s, d) => embeddingDupsLsh(s, d)),
    "dedup_clusters"       -> ((s, d) => dedupClusters(s, d)),
    "dedup_consensus"      -> ((s, d) => dedupConsensus(s, d)),
    "dedup_delta"          -> ((s, d) => dedupDelta(s, d)),
    "dedup_canonical"      -> ((s, d) => dedupCanonical(s, d)),
    "dedup_stats"          -> ((s, d) => dedupStats(s, d)),
    "dup_cluster_size_dist" -> ((s, d) => dupClusterSizeDist(s, d)),
    "dedup_method_agreement" -> ((s, d) => dedupMethodAgreement(s, d)),
    "semdedup"             -> ((s, d) => semDedup(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "exact_dedup"          -> exactDedupSql,
    "para_dedup"           -> paraDedupSql,
    "para_dedup_stats"     -> paraDedupStatsSql,
    "substring_dedup"      -> substringDedupSql,
    "pipeline_funnel"      -> pipelineFunnelSql,
    "ngram_jaccard_dedup"  -> ngramJaccardPairsSql,
    "dedup_threshold_curve" -> dedupThresholdCurveSql,
    "containment_pairs"    -> containmentPairsSql,
    "containment_pairs_sketch" -> containmentPairsSketchSql,
    "containment_sketch_coverage" -> containmentSketchCoverageSql,
    "minhash_lsh_dedup"    -> minhashLshDedupSql,
    "dedup_gate_replay"    -> dedupGateReplaySql,
    "simhash_dedup"        -> simhashDedupSql,
    "dup_pair_sources"     -> dupPairSourcesSql,
    "embedding_cosine_dedup" -> embeddingCosineDupsSql,
    "embedding_dedup_lsh"  -> embeddingDupsLshSql,
    "dedup_clusters"       -> dedupClustersSql,
    "dedup_consensus"      -> dedupConsensusSql,
    "dedup_delta"          -> dedupDeltaSql,
    "dedup_canonical"      -> dedupCanonicalSql,
    "dedup_stats"          -> dedupStatsSql,
    "dup_cluster_size_dist" -> dupClusterSizeDistSql,
    "dedup_method_agreement" -> dedupMethodAgreementSql,
    "semdedup"             -> semDedupSql,
  )
}
