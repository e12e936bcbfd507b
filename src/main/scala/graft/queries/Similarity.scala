package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Query, Substrate, Tables}
import graft.Query.ArgOps

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * Two paths, per the standard ANN playbook:
  *  - [[bruteForceTopK]] — the exact baseline: query-set × corpus cosine,
  *    per-query top-k via window ranking. O(|Q|·n) — correct at any scale
  *    where |Q| is small (and the oracle for everything else).
  *  - [[annCosineLsh]] — sign-LSH scale path: deterministic seeded-LCG
  *    hyperplanes, 32 tables × 6-bit signatures computed in a JIT'd
  *    kernel, bucket join, exact re-rank of candidates only. Cost tracks
  *    bucket occupancy, not n².
  *  - [[annCosineIvf]] — inverted-file scale path: spherical k-means
  *    coarse quantizer, NProbe-cell search, exact re-rank. Higher recall
  *    than sign-LSH on this corpus's weak-similarity geometry.
  *
  * Determinism: cosine math is all-double with identical fold order in
  * Spark and DuckDB (float→double products are exact, 64-element sequential
  * sums) → bit-identical values, safe to rank and hash-compare. That
  * extends to BOTH approximate paths end-to-end: [[annCosineLshSql]]
  * reproduces hyperplanes, signatures, banding, and re-rank exactly,
  * and [[annCosineIvfSql]] unrolls the Lloyd iterations as a
  * MATERIALIZED-CTE chain with nanos-integerised centroid sums (the
  * bpe_train precedent), so every row of every ANN query is hash-gated.
  */
object Similarity {

  /** Query set: the first 10 vectors (vec_id < 10) — a stand-in for an
    * externally-supplied query table. */
  private val NumQueries = 10
  private val TopK = 5

  /** Codegen'd native expression (graft.functions.ArrayDotProduct) — same
    * ascending-index accumulation as the DuckDB oracle; 30× the interpreted
    * aggregate/zip_with formulation it replaced. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.array_dot(a, b)

  private[queries] def vecs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** Exact cosine top-k: broadcast the (small) query set against the
    * corpus, rank per query through [[rankByCosine]]. */
  def bruteForceTopK(spark: SparkSession, sfDir: String, k: Int = TopK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val all = vecs(spark, sfDir)
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    rankByCosine(all.join(broadcast(q), col("vec_id") =!= col("qid")), k)
  }

  /** The one exact-cosine rank step. Over (qid, vec_id, v, norm, qv,
    * qnorm, …) pairs it ranks each query's candidates by raw cosine DESC,
    * vec_id ASC — the tie-break every DuckDB twin's row_number replays —
    * keeps rank ≤ k and emits (qid, rank, vec_id, `carried`…, cosine),
    * cosine [[Det.r]]-rounded to 4 places, ordered by (qid, rank). The
    * window partitions by qid: k·|Q| result rows, never a global sort. */
  private def rankByCosine(pairs: DataFrame, k: Int, carried: Column*): DataFrame = {
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine_raw").desc, col("vec_id").asc)
    pairs
      .withColumn("cosine_raw", dot(col("v"), col("qv")) / (col("norm") * col("qnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((Seq(col("qid"), col("rank"), col("vec_id")) ++ carried :+
        Det.r(col("cosine_raw"), 4).as("cosine")): _*)
      .orderBy("qid", "rank")
  }

  /** (qid, vec_id, …) rows joined back to the float vectors on both
    * sides: (v, norm) for vec_id, (qv, qnorm) for qid. */
  private def withPairVecs(spark: SparkSession, sfDir: String,
                           pairs: DataFrame): DataFrame = {
    val all = vecs(spark, sfDir)
    pairs
      .join(all, "vec_id")
      .join(all.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qnorm")), "qid")
  }

  /** The exact re-rank tail of every candidate-then-rank ANN query: a
    * candidate stream (qid, vec_id, carried…) — LSH buckets, IVF cells or
    * an ADC shortlist — joins the float vectors back on both sides and
    * goes through [[rankByCosine]]. Only the candidate rows ever meet the
    * floats, so the cost tracks |candidates|, not n. */
  private[graft] def exactRerank(spark: SparkSession, sfDir: String,
                                 cands: DataFrame, k: Int,
                                 carried: Column*): DataFrame =
    rankByCosine(withPairVecs(spark, sfDir, cands), k, carried: _*)

  val bruteForceTopKSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
       |     q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM n WHERE vec_id < $NumQueries),
       |     scored AS (
       |       SELECT qid, vec_id,
       |              list_dot_product(v, qv) / (norm * qnorm) AS cosine_raw,
       |              row_number() OVER (PARTITION BY qid
       |                                 ORDER BY list_dot_product(v, qv) / (norm * qnorm) DESC,
       |                                          vec_id ASC) AS rank
       |       FROM n JOIN q ON vec_id <> qid)
       |SELECT qid, rank, vec_id, CAST(floor(cosine_raw * 10000 + 0.5) AS DOUBLE) / 10000 AS cosine
       |FROM scored WHERE rank <= $TopK
       |ORDER BY qid, rank""".stripMargin

  /** Prefix dims evaluated by [[matryoshkaRecall]] (largest = the full
    * embedding width, which is recall 1.0 by definition and anchors the
    * readout). Shared verbatim with the oracle's `dims` CTE. */
  private val MatryoshkaDims = Seq(8, 16, 32, 64)

  /** MATRYOSHKA EVAL: recall@[[TopK]] of truncated-dimension retrieval
    * vs the full-width exact top-k — the question every
    * retrieval-serving pipeline asks of an MRL-style embedding ("can I
    * serve at 16 of 64 dims and keep 90% of the neighbors?"). One
    * exact-cosine pass per prefix width over the SAME prefix of the
    * stored vector (no re-embedding), each ranked with the brute-force
    * tie-break (raw cosine desc, vec_id asc), then the per-dim top-k
    * sets join the full-width set and the overlap fraction is the
    * readout.
    *
    * Scale shape: each pass is [[bruteForceTopK]]'s — the |Q| query
    * prefixes broadcast, the corpus scans once per dim (a 100 TB run
    * fuses all four prefix dots into one scan since every prefix is a
    * subrange of the same array), and only k·|Q| winner rows per dim
    * ever shuffle; the final overlap join is k·|Q|·|dims| rows. Zero-
    * norm prefixes are dropped on BOTH sides before ranking (the NaN
    * total-ordering trap: Spark sorts NaN above every real cosine). */
  def matryoshkaRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val all = vecs(spark, sfDir).select(col("vec_id"), col("v"))
    def topkAt(d: Int): DataFrame = {
      val t = all.select(col("vec_id"), slice(col("v"), 1, d).as("tv"))
        .withColumn("tnorm", sqrt(dot(col("tv"), col("tv"))))
        .filter(col("tnorm") > 0)
      val q = t.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("tv").as("qv"),
          col("tnorm").as("qnorm"))
      val w = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id").asc)
      t.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos", dot(col("tv"), col("qv")) / (col("tnorm") * col("qnorm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select(lit(d).as("dim"), col("qid"), col("vec_id"))
    }
    val tk = MatryoshkaDims.map(topkAt).reduce(_ unionByName _)
    val full = tk.filter(col("dim") === MatryoshkaDims.max)
      .select(col("qid"), col("vec_id"))
    tk.join(full, Seq("qid", "vec_id"))
      .groupBy("dim").agg(count(lit(1)).as("hits"))
      .select(col("dim"), col("hits"),
        Det.r(col("hits").cast("double") / (NumQueries * TopK), 6).as("recall"))
      .orderBy("dim")
  }

  /** DuckDB twin of [[matryoshkaRecall]] — list slicing `v[1:d]` is the
    * 1-based-inclusive mirror of Spark's `slice(v, 1, d)`. */
  val matryoshkaRecallSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dims AS (SELECT unnest([${MatryoshkaDims.mkString(", ")}]) AS dim),
       |t AS (SELECT d.dim, vec_id, v[1:d.dim] AS tv FROM e, dims d),
       |n AS (SELECT dim, vec_id, tv, sqrt(list_dot_product(tv, tv)) AS tnorm FROM t),
       |g AS (SELECT * FROM n WHERE tnorm > 0),
       |q AS (SELECT dim, vec_id AS qid, tv AS qv, tnorm AS qnorm
       |      FROM g WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT g.dim, qid, vec_id,
       |         row_number() OVER (PARTITION BY g.dim, qid
       |           ORDER BY list_dot_product(tv, qv) / (tnorm * qnorm) DESC,
       |                    vec_id ASC) AS rank
       |  FROM g JOIN q ON g.dim = q.dim AND vec_id <> qid),
       |tk AS (SELECT dim, qid, vec_id FROM scored WHERE rank <= $TopK),
       |fullk AS (SELECT qid, vec_id FROM tk WHERE dim = ${MatryoshkaDims.max}),
       |ov AS (SELECT t.dim, count(*) AS hits
       |       FROM tk t JOIN fullk f USING (qid, vec_id) GROUP BY 1)
       |SELECT dim, hits,
       |       ${Det.rSql(s"CAST(hits AS DOUBLE) / ${NumQueries * TopK}", 6)} AS recall
       |FROM ov ORDER BY dim""".stripMargin

  // --------------------------------------------------------------------
  // Random-hyperplane LSH
  // --------------------------------------------------------------------

  private val Dim = 64
  // Tuned to the corpus geometry: true neighbors sit at cosine 0.25-0.51
  // (θ ≈ 60-75°), where a sign bit agrees with p = 1-θ/π ≈ 0.58-0.67.
  // Recall per table ≈ p^SigBits; total ≈ 1-(1-p^6)^32 ≈ 0.7-0.9 over the
  // top-5 range, with E[bucket] = n/2^6 keeping candidates sub-linear.
  // (16-bit sigs — the classic choice for ≥0.9-cosine dedup — yield ZERO
  // candidates here; bits must shrink as target angle grows.)
  private val SigBits = 6
  private val NumTables = 32

  /** Occupancy-targeted signature width for the GRAPH family
    * ([[knnGraph]] and everything built on its edges, plus
    * [[hardNegatives]]): smallest width with expected bucket occupancy
    * n / 2^bits ≤ [[SigTargetOcc]], floored at the search path's
    * geometry-tuned [[SigBits]]. The SEARCH path keeps the fixed width
    * (its bucket join is |Q|-bounded — 10 broadcast queries probe
    * buckets); the graph family's bucket SELF-join costs Σ occupancy²
    * per table, so a fixed width hits a wall as n grows (measured:
    * 100k vecs × 6 bits ⇒ ~1.5k occupancy ⇒ ~2.5G candidate pairs —
    * the probe that motivated this derivation). Wider signatures trade
    * recall for tractability exactly like IVF's cell count
    * ([[derivedIvfCells]]); the LSH scaling argument (denser corpus ⇒
    * nearer neighbors ⇒ higher per-bit agreement) pushes the other way,
    * and the probe's injected-near-dup recall readout monitors it.
    * Integer ceil-log2 (no float log on the JVM side — the oracle's
    * float log2 is exact at the only dangerous points, powers of two). */
  private val SigTargetOcc = 256L
  /** Hard width cap, shared with the oracle: the adaptive DuckDB twins
    * draw hyperplanes from `range(0, 24)` (see the `bits` CTE in
    * knnGraphSql and friends), so the JVM side MUST cap at the same 24
    * or a corpus past 256·2²⁴ ≈ 4.3e9 vectors would silently use more
    * signature bits than the oracle and break the hash gate. 24 bits ⇒
    * 16M buckets — occupancy targeting is long saturated well before
    * the cap binds. */
  private val SigBitsCap = 24
  private[graft] def derivedSigBits(nVecs: Long): Int = {
    val m = math.max(1L, (nVecs + SigTargetOcc - 1) / SigTargetOcc)
    val ceilLog2 =
      if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(SigBitsCap, math.max(SigBits, ceilLog2))
  }

  /** Corpus vector count per dir; feeds [[derivedSigBits]] at query
    * construction. */
  private def corpusVecCount(spark: SparkSession, sfDir: String): Long =
    Substrate.derived(spark, sfDir, Seq("embeddings"), "n_vecs") {
      Tables.embeddings(spark, sfDir).count()
    }

  /** Deterministic pseudo-random hyperplane weights in [-1, 1): seeded
    * LCG (numerical-recipes constants), pure function of (table, bit, dim). */
  private[graft] def hyperplane(table: Int, bit: Int): Array[Double] = {
    var state: Long = 0x9E3779B97F4A7C15L ^ (table.toLong << 32) ^ (bit.toLong << 8)
    Array.fill(Dim) {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
  }


  /** Signature kernel: NumTables×SigBits sign projections per vector as
    * tight JIT'd loops. (The previous Column-expression version ran the
    * 192 dot products through interpreted `aggregate` lambdas — 64× slower
    * and the whole cost of this query at sf0.1.) */
  private def signatures(spark: SparkSession, vecsDf: DataFrame): DataFrame =
    signaturesFor(spark, vecsDf, NumTables, SigBits)

  /** The same kernel with caller-chosen table count and signature width —
    * [[graft.queries.Dedup.embeddingDupsLsh]] uses longer, corpus-derived
    * signatures than the fixed-geometry search path above. Planes come
    * from the same [[hyperplane]] family (pure function of (table, bit)),
    * built once per call (≤ tables·bits·64 doubles — trivially shipped in
    * the task closure). */
  private[queries] def signaturesFor(spark: SparkSession, vecsDf: DataFrame,
                                     tables: Int, bits: Int): DataFrame = {
    import spark.implicits._
    val pl = Array.tabulate(tables * bits)(i => hyperplane(i / bits, i % bits))
    vecsDf.select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
      .flatMap { case (id, vSeq) =>
        val v = vSeq.toArray
        (0 until tables).iterator.map { t =>
          var sig = 0
          var b = 0
          while (b < bits) {
            val w = pl(t * bits + b)
            var s = 0.0; var i = 0
            while (i < v.length) { s += v(i) * w(i); i += 1 }
            if (s > 0) sig |= (1 << b)
            b += 1
          }
          (id, t, sig)
        }
      }.toDF("vec_id", "t", "sig")
  }

  /** ANN top-k via sign-LSH: vectors sharing any table bucket with a
    * query become candidates; exact cosine re-ranks candidates only.
    * FULLY value-oracled despite being "approximate": approximation here
    * means recall < 1 vs brute force, but every step — LCG hyperplanes,
    * sign projections, banding, exact re-rank — is deterministic
    * arithmetic, so [[annCosineLshSql]] reproduces the output
    * bit-for-bit (the LCG runs in HUGEINT mod-2⁶⁴; the projections use
    * list_dot_product, whose ascending fold matches the JIT'd kernel;
    * the sig fold is integer, order-free). Recall@5 vs [[bruteForceTopK]]
    * stays asserted in SimilaritySpec. At 100 TB: bucket join shuffles
    * (table, sig) keys — tune SigBits so E[bucket size] = n / 2^SigBits
    * stays executor-local; add multiprobe for recall. */
  def annCosineLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val all = vecs(spark, sfDir)
    val bucketed = signatures(spark, all)
    val qb = bucketed.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("t"), col("sig"))
    val cands = bucketed.join(broadcast(qb), Seq("t", "sig"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    exactRerank(spark, sfDir, cands, TopK)
  }

  /** Shared DuckDB fragment: the LCG hyperplane replay (RECURSIVE over
    * dims), norms, and per-(vec, table) signatures — prefixes
    * [[annCosineLshSql]] and [[knnGraphSql]]. Callers open with
    * `WITH RECURSIVE`. The (t, b) plane set comes from `tbClause` so the
    * SEARCH path keeps its geometry-tuned fixed width while the GRAPH
    * family derives width from corpus size ([[derivedSigBits]]). */
  private def lshSigChainSqlWith(tbClause: String): String =
    s"""$tbClause,
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
       |  FROM pl WHERE d < $Dim),
       |wl AS (SELECT t, b, list(CAST(state // 2048 AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0 ORDER BY d) AS wv
       |       FROM pl WHERE d >= 1 GROUP BY t, b),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
       |sigs AS (SELECT e.vec_id, w.t,
       |           CAST(sum(CASE WHEN list_dot_product(e.v, w.wv) > 0 THEN (1 << w.b) ELSE 0 END) AS INT) AS sig
       |         FROM e CROSS JOIN wl w GROUP BY e.vec_id, w.t)""".stripMargin

  private val lshSigChainSql: String = lshSigChainSqlWith(
    s"tb AS (SELECT t, b FROM range(0, $NumTables) r1(t), range(0, $SigBits) r2(b))")

  /** The GRAPH-family chain: signature width nb = [[derivedSigBits]](n),
    * derived HERE from count(*) with the identical integer ceil-log2
    * (floor(log2(m−1))+1 is float-safe: log2 is exact at powers of two
    * and strictly below the next integer elsewhere). Planes filter
    * b < nb from a constant 24-bit range (range() cannot take scalar
    * subqueries). */
  private val lshSigChainAdaptiveSql: String = lshSigChainSqlWith(
    s"""bits AS (SELECT GREATEST($SigBits,
       |    CASE WHEN m <= 1 THEN 0
       |         ELSE CAST(floor(log2(CAST(m - 1 AS DOUBLE))) AS INT) + 1 END) AS nb
       |  FROM (SELECT GREATEST(1, (count(*) + ${SigTargetOcc - 1}) // $SigTargetOcc) AS m
       |        FROM embeddings)),
       |tb AS (SELECT t, b FROM range(0, $NumTables) r1(t), range(0, 24) r2(b), bits
       |       WHERE b < bits.nb)""".stripMargin)

  /** The LSH twins' [[exactRerank]]: `cands` (qid, vec_id) against the
    * chain's norm table `n`, through the final SELECT. */
  private val lshScoredSql: String =
    s"""scored AS (
       |  SELECT c.qid, c.vec_id,
       |         list_dot_product(a.v, q.v) / (a.norm * q.norm) AS cosine_raw,
       |         row_number() OVER (PARTITION BY c.qid
       |                            ORDER BY list_dot_product(a.v, q.v) / (a.norm * q.norm) DESC,
       |                                     c.vec_id ASC) AS rank
       |  FROM cands c JOIN n a ON c.vec_id = a.vec_id
       |               JOIN n q ON c.qid = q.vec_id)
       |SELECT qid, rank, vec_id, CAST(floor(cosine_raw * 10000 + 0.5) AS DOUBLE) / 10000 AS cosine
       |FROM scored WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin

  /** DuckDB twin of [[annCosineLsh]]. The [[hyperplane]] LCG is 64-bit
    * wrapping arithmetic, which DuckDB reproduces in HUGEINT with an
    * explicit mod 2⁶⁴ (the 64×64-bit product peaks below 2¹²⁷, inside
    * signed HUGEINT); the xor-seed is built in signed BIGINT and shifted
    * to the unsigned domain. `>>> 11` is integer division by 2¹¹, and
    * the [-1,1) mapping repeats the Scala op order exactly (each IEEE
    * op is exactly rounded, so same ops ⇒ same bits). Projections fold
    * via list_dot_product over the d-ordered weight lists — the same
    * ascending fold as the JIT'd signature kernel. */
  val annCosineLshSql: String =
    s"""WITH RECURSIVE
       |$lshSigChainSql,
       |qs AS (SELECT vec_id AS qid, t, sig FROM sigs WHERE vec_id < $NumQueries),
       |cands AS (SELECT DISTINCT qs.qid, s.vec_id
       |          FROM sigs s JOIN qs ON s.t = qs.t AND s.sig = qs.sig
       |          WHERE s.vec_id <> qs.qid),
       |$lshScoredSql""".stripMargin

  /** [[annCosineLsh]] with MULTIPROBE: each query probes its own bucket
    * PLUS every bucket at Hamming distance 1 (flip each of the
    * [[SigBits]] signature bits) in every table — the standard
    * recall-vs-memory lever (Lv et al., VLDB'07): near neighbors that
    * landed one sign flip away become candidates WITHOUT doubling the
    * table count. Candidates are a strict superset of the base LSH's,
    * so recall can only rise (SimilaritySpec pins both the ordering and
    * a higher floor); cost rises by ≤ (bits+1)× on the QUERY side only
    * — the corpus is neither rescanned nor re-bucketed, and the probe
    * expansion is |Q|·T·(bits+1) rows of model state, still a broadcast.
    * Both paths end in [[exactRerank]], so output rows differ only where
    * multiprobe actually recovered a neighbor. */
  def annCosineLshMultiprobe(spark: SparkSession, sfDir: String): DataFrame = {
    val all = vecs(spark, sfDir)
    val bucketed = signatures(spark, all)
    val probes = array(
      (col("sig") +: (0 until SigBits).map(b =>
        col("sig").bitwiseXOR(lit(1 << b)))): _*)
    val qb = bucketed.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("t"), explode(probes).as("sig"))
      .distinct()
    val cands = bucketed.join(broadcast(qb), Seq("t", "sig"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    exactRerank(spark, sfDir, cands, TopK)
  }

  val annCosineLshMultiprobeSql: String =
    s"""WITH RECURSIVE
       |$lshSigChainSql,
       |qp AS (SELECT DISTINCT vec_id AS qid, t,
       |              CASE WHEN p = $SigBits THEN sig
       |                   ELSE CAST(xor(sig, 1 << p) AS INT) END AS sig
       |       FROM sigs CROSS JOIN range(0, ${SigBits + 1}) r(p)
       |       WHERE vec_id < $NumQueries),
       |cands AS (SELECT DISTINCT qp.qid, s.vec_id
       |          FROM sigs s JOIN qp ON s.t = qp.t AND s.sig = qp.sig
       |          WHERE s.vec_id <> qp.qid),
       |$lshScoredSql""".stripMargin

  // --------------------------------------------------------------------
  // k-NN graph (all-vectors top-k over LSH candidates)
  // --------------------------------------------------------------------

  private val KnnK = 3

  /** Approximate k-NN GRAPH: EVERY vector's top-[[KnnK]] neighbors among
    * its sign-LSH bucket mates — the all-vectors generalization of
    * [[annCosineLsh]]'s 10-query search, and the substrate
    * graph-building ops consume (SemDeDup-style cluster seeding, label
    * propagation, connected-component dedup over semantic edges).
    *
    * Shape: bucket self-join on (table, sig) → DISTINCT undirected
    * candidate pairs (cost tracks bucket occupancy, E|bucket| =
    * n/2^SigBits per table — never n²), each pair scored ONCE by exact
    * cosine then emitted in both directions, per-vector top-k via the
    * bounded [[graft.functions.TopKScores]] (O(k) state per vector; no per-vector
    * window over a corpus-sized partition). Vectors whose buckets hold
    * no mate produce no rows — documented sparse-output semantics (the
    * caller left-joins if it needs isolates). At 100 TB the knobs are
    * SigBits (occupancy) and multiprobe (recall), same as the search
    * path; hot buckets get the occupancy-guard treatment.
    *
    * Determinism: cosine integerises to micros BEFORE ranking (the
    * fold-identical double → identical floor on both engines), ties
    * break neighbor ASC, and the output cosine is derived from the
    * SAME integer (score_u/1e6) so no second rounding can disagree. */
  def knnGraph(spark: SparkSession, sfDir: String, k: Int = KnnK): DataFrame =
    knnEdgesMaterialized(spark, sfDir, k).orderBy("vec_id", "rank")

  /** kNN-GRAPH RECIPROCITY — per rank, what fraction of directed kNN
    * edges are MUTUAL (b also lists a in ITS top-k). The classic
    * embedding-hubness diagnostic: hub points enter everyone's
    * neighbor list while their own list holds only other hubs, so low
    * reciprocity (especially at deep ranks) predicts exactly the ANN
    * recall asymmetries [[ivfModularity]] explains spatially — and
    * mutual-kNN is the standard graph sparsifier ([[knnComponents]]'
    * clusters get cleaner edges by dropping one-way links, priced by
    * this table).
    *
    * Shape: the memoized n·k edge frame self-joined on the REVERSED
    * (vec_id, neighbor) key — a left-semi hash join of two n·k-row
    * narrow frames, both shuffled on the same key pair, then a
    * k-row grouped agg. No corpus arrays move. Counts are exact
    * integers; the share is one exact division [[Det]]-floored. */
  def knnReciprocity(spark: SparkSession, sfDir: String, k: Int = KnnK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val g = knnEdgesMaterialized(spark, sfDir, k)
      .select(col("vec_id"), col("rank"), col("neighbor"))
    val reversed = g.select(col("neighbor").as("vec_id"),
      col("vec_id").as("neighbor"))
    val perRank = g.groupBy("rank").agg(count(lit(1)).as("n_edges"))
    val mutualPerRank = g.join(reversed, Seq("vec_id", "neighbor"), "left_semi")
      .groupBy("rank").agg(count(lit(1)).as("n_mutual"))
    perRank.join(mutualPerRank, Seq("rank"), "left")
      .select(col("rank"), col("n_edges"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
        Det.r(coalesce(col("n_mutual"), lit(0L)).cast("double") /
          col("n_edges"), 6).as("mutual_share"))
      .orderBy("rank")
  }

  /** Oracle: [[knnEdgeCtesSql]]'s ranked edges self-joined on the
    * reversed key — (vec_id, neighbor) is unique within the top-k
    * lists, so the inner join counts each mutual edge exactly once,
    * matching the engine's left-semi. LAZY: it interpolates
    * [[knnEdgeCtesSql]], declared further down this object — a strict
    * val here would capture it uninitialized (the CLAUDE.md
    * object-init-order trap, hit live while adding this query). */
  lazy val knnReciprocitySql: String =
    s"""WITH RECURSIVE
       |$knnEdgeCtesSql,
       |rcp_g AS (SELECT vec_id, CAST(rank AS INT) AS rank, neighbor
       |          FROM rk WHERE rank <= $KnnK),
       |rcp_e AS (SELECT rank, count(*) AS n_edges FROM rcp_g GROUP BY 1),
       |rcp_m AS (SELECT g.rank, count(*) AS n_mutual
       |          FROM rcp_g g JOIN rcp_g g2 ON g2.vec_id = g.neighbor
       |                                    AND g2.neighbor = g.vec_id
       |          GROUP BY 1)
       |SELECT rcp_e.rank, rcp_e.n_edges,
       |       coalesce(rcp_m.n_mutual, 0) AS n_mutual,
       |       ${Det.rSql(
          "CAST(coalesce(rcp_m.n_mutual, 0) AS DOUBLE) / rcp_e.n_edges",
          6)} AS mutual_share
       |FROM rcp_e LEFT JOIN rcp_m ON rcp_m.rank = rcp_e.rank
       |ORDER BY rcp_e.rank""".stripMargin

  /** MUTUAL-kNN SPARSIFICATION — the consumer [[knnReciprocity]]
    * motivates (r10 verdict #3): keep a directed edge (a, b) iff b is
    * in a's top-k AND a is in b's top-k. Dropping one-way links is the
    * standard hubness-robust graph cleanup (a hub enters everyone's
    * list while its own list holds only other hubs — its one-way edges
    * are exactly what glues unrelated clusters together), and the
    * emitted frame keeps the ORIGINAL rank and cosine so per-rank
    * retention reads off it directly (group by rank ÷
    * [[knnReciprocity]]'s n_edges) and every kNN consumer
    * (label_propagation, knn_components, kcore) can run on the
    * sparsified edges unchanged — SimilaritySpec A/Bs both consumers
    * on a hub fixture.
    *
    * Shape: the memoized n·k edge frame left-semi-joined to itself on
    * the REVERSED key — the [[knnReciprocity]] join, emitting edges
    * instead of counting them. Both sides shuffle on (vec_id, neighbor)
    * narrow rows; output ≤ n·k. Symmetric by construction: (a,b)
    * survives iff (b,a) does. */
  def knnMutual(spark: SparkSession, sfDir: String, k: Int = KnnK): DataFrame =
    knnMutualEdges(spark, sfDir, k).orderBy("vec_id", "rank")

  /** [[knnMutual]] without the presentation sort — the edge frame the
    * `edges=mutual` consumer knob feeds straight into the component /
    * label-prop machinery (they re-shuffle on their own keys). */
  private def knnMutualEdges(spark: SparkSession, sfDir: String,
                             k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val g = knnEdgesMaterialized(spark, sfDir, k)
    val reversed = g.select(col("neighbor").as("vec_id"),
      col("vec_id").as("neighbor"))
    g.join(reversed, Seq("vec_id", "neighbor"), "left_semi")
      .select(col("vec_id"), col("rank"), col("neighbor"), col("cosine"))
  }

  /** Edge-source selector for the consumers that accept the
    * `edges = raw | mutual` knob — the production switch
    * [[knnReciprocity]] prices and [[knnMutual]] implements. */
  private def edgeFrameFor(spark: SparkSession, sfDir: String, k: Int,
                           edges: String): DataFrame = {
    require(edges == "raw" || edges == "mutual",
      s"edges must be 'raw' or 'mutual', got '$edges'")
    if (edges == "mutual") knnMutualEdges(spark, sfDir, k)
    else knnEdgesMaterialized(spark, sfDir, k)
  }

  /** Oracle: [[knnEdgeCtesSql]]'s ranked edges inner-joined on the
    * reversed key ((vec_id, neighbor) is unique within top-k lists, so
    * inner ≡ the engine's left-semi). LAZY — interpolates
    * [[knnEdgeCtesSql]], declared further down (the object-init-order
    * trap, see [[knnReciprocitySql]]). */
  lazy val knnMutualSql: String =
    s"""WITH RECURSIVE
       |$knnEdgeCtesSql,
       |mu_g AS MATERIALIZED (
       |  SELECT vec_id, CAST(rank AS INT) AS rank, neighbor, score_u
       |  FROM rk WHERE rank <= $KnnK)
       |SELECT g.vec_id, g.rank, g.neighbor,
       |       CAST(g.score_u AS DOUBLE) / 1e6 AS cosine
       |FROM mu_g g JOIN mu_g g2 ON g2.vec_id = g.neighbor
       |                        AND g2.neighbor = g.vec_id
       |ORDER BY g.vec_id, g.rank""".stripMargin

  /** Probe-facing occupancy decomposition of the GRAPH-family bucket
    * self-join (r10 verdict #2): the edge build's candidate-pair cost
    * is Σ_buckets occ·(occ−1)/2 over the (table, sig) buckets at the
    * derived width — this returns (sigBits, n, Σ occ², p99 occ, max
    * occ) so ScaleProbe can record the measured cost law against the
    * uniform-law prediction NumTables·n²/2^bits and the
    * [[SigTargetOcc]] target. Bucket-count-bounded aggregation (≤
    * NumTables·2^bits rows); nothing corpus-sized collects. */
  private[graft] def knnBucketStats(spark: SparkSession,
                                    sfDir: String): (Int, Long, Long, Long, Long) = {
    val n = corpusVecCount(spark, sfDir)
    val bits = derivedSigBits(n)
    val occ = signaturesFor(spark, vecs(spark, sfDir), NumTables, bits)
      .groupBy("t", "sig").agg(count(lit(1)).as("c"))
    val r = occ.agg(
      sum(col("c") * col("c")).as("sumsq"),
      percentile_approx(col("c"), lit(0.99), lit(10000)).as("p99"),
      max("c").as("mx")).head()
    (bits, n,
      if (r.isNullAt(0)) 0L else r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** [[knnEdges]] behind the write-once session sink
    * ([[Substrate.materialize]], the dedupClustersMaterialized engine):
    * the edge build is the expensive stage of the family (probe: ~100 s
    * at 100k vecs) and THREE queries consume the identical frame
    * (knn_graph, label_propagation, knn_coherence) — without the sink
    * each re-paid the full bucket join (probe: 102 + 94 + 86 s; with
    * it, one build + two parquet scans). Edges are n·k rows — bounded,
    * far smaller than the corpus arrays — and the sink is a pure
    * function of (sfDir, k) and the corpus tables' stamps.
    *
    * The ObjectHashAggregate sort-based fallback triggers at 128 groups
    * per task — sized for UNBOUNDED buffers (collect_list, the 8 MiB
    * dense bitmaps), not for [[graft.functions.TopKScores]]'s ~100 B
    * O(k) state. Under the default, the edge build's per-partition
    * partial agg (≈|vecs-in-partition| groups) fell back and SORTED the
    * raw pair stream — measured 145 s of a 165 s build at 100k vecs;
    * in hash mode the same stage is 7 s (PERF.md r12 stage table).
    * 4M groups × ~136 B ≈ 550 MB caps task map memory, with the sort
    * fallback still there past it. Scoped set/restore around the ONE
    * action that pays it (the cold materialize write) — session confs
    * are per-query-start, and graft sessions execute queries
    * sequentially; a global raise would let a 365-group bitmap agg hold
    * 365 × 8 MiB live per task instead. */
  private def knnEdgesMaterialized(spark: SparkSession, sfDir: String,
                                   k: Int): DataFrame = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, 4000000)
    try Substrate.materialize(spark, s"graft_knn${k}_", sfDir)(
      knnEdges(spark, sfDir, k))
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The edge build's pair stage — signatures, bucket self-join, scored
    * (va, vb, score_u) rows.
    *
    * Score INSIDE the bucket self-join, where the arrays are already
    * collocated by the (t, sig) shuffle, and project to 24-byte
    * (va, vb, score_u) rows BEFORE the distinct. The previous shape
    * (distinct bare pairs, then join vectors back per pair) shipped two
    * 512 B arrays through a pair-cardinality shuffle — measured 100k
    * vecs: tens of GB of sort spill, disk-full. A pair colliding in c
    * tables pays the 64-mult dot c times (cheap, codegen'd); the score
    * is a pure function of the pair, so the duplicates a multi-table
    * collision emits are EXACT duplicates — [[graft.functions.TopKScores]]'s set
    * semantics absorb them map-side, and the pair-cardinality DISTINCT
    * exchange this stage used to pay is gone (the r12 stage probe put
    * that exchange at the top of the edge-build bill; signature
    * generation was 1.4 s of a ~190 s build). */
  private def knnScoredPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val all = vecs(spark, sfDir)
    val sigs = signaturesFor(spark, all, NumTables,
      derivedSigBits(corpusVecCount(spark, sfDir)))
    val sigv = sigs.join(all, "vec_id")
    sigv
      .select(col("t"), col("sig"), col("vec_id").as("va"),
        col("v").as("xa"), col("norm").as("na"))
      .join(sigv.select(col("t"), col("sig"), col("vec_id").as("vb"),
        col("v").as("xb"), col("norm").as("nb")), Seq("t", "sig"))
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb"),
        floor(dot(col("xa"), col("xb")) / (col("na") * col("nb"))
          * 1e6 + 0.5).as("score_u"))
  }

  /** [[knnGraph]] without the presentation sort — the reusable edge
    * frame (vec_id, rank, neighbor, cosine) that [[labelPropagation]]
    * consumes directly (it re-shuffles on its own keys immediately).
    * Both directions of each pair emit from ONE pass over the scored
    * bucket join (explode of a 2-struct array — no self-union that
    * would recompute the join), and the per-vector top-k dedups the
    * multi-table duplicates in its O(k) buffer. */
  private def knnEdges(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val directed = knnScoredPairs(spark, sfDir)
      .select(explode(array(
        struct(col("va").as("qid"), col("vb").as("vec_id"), col("score_u")),
        struct(col("vb").as("qid"), col("va").as("vec_id"), col("score_u"))))
        .as("e"))
      .select(col("e.qid").as("qid"), col("e.vec_id").as("vec_id"),
        col("e.score_u").as("score_u"))
    topKScored(spark, directed, k)
      .withColumnRenamed("vec_id", "neighbor")
      .withColumnRenamed("qid", "vec_id")
      .select(col("vec_id"), col("rank"), col("neighbor"),
        (col("score_u").cast("double") / 1e6).as("cosine"))
  }

  /** The kNN-edge CTE chain shared by [[knnGraphSql]] and
    * [[labelPropagationSql]] — ends in `rk` (vec_id, neighbor, score_u,
    * rank). */
  private val knnEdgeCtesSql: String =
    s"""$lshSigChainAdaptiveSql,
       |pr AS (SELECT DISTINCT sa.vec_id AS va, sb.vec_id AS vb
       |       FROM sigs sa JOIN sigs sb
       |         ON sa.t = sb.t AND sa.sig = sb.sig AND sa.vec_id < sb.vec_id),
       |sc AS (SELECT p.va, p.vb,
       |              CAST(floor(list_dot_product(a.v, b.v) / (a.norm * b.norm)
       |                         * 1e6 + 0.5) AS BIGINT) AS score_u
       |       FROM pr p JOIN n a ON a.vec_id = p.va
       |                 JOIN n b ON b.vec_id = p.vb),
       |dr AS (SELECT va AS vec_id, vb AS neighbor, score_u FROM sc
       |       UNION ALL
       |       SELECT vb, va, score_u FROM sc),
       |rk AS (SELECT vec_id, neighbor, score_u,
       |              row_number() OVER (PARTITION BY vec_id
       |                 ORDER BY score_u DESC, neighbor ASC) AS rank
       |       FROM dr)""".stripMargin

  /** DuckDB twin of [[knnGraph]] — [[lshSigChainSql]] + the bucket
    * self-join, scored once per undirected pair, ranked per vector on
    * the identical micros integer. */
  val knnGraphSql: String =
    s"""WITH RECURSIVE
       |$knnEdgeCtesSql
       |SELECT vec_id, CAST(rank AS INT) AS rank, neighbor,
       |       CAST(score_u AS DOUBLE) / 1e6 AS cosine
       |FROM rk WHERE rank <= $KnnK
       |ORDER BY vec_id, rank""".stripMargin

  /** EMBEDDING STANDARDIZATION: z-score each vector component against
    * its DIMENSION's corpus distribution — the whitening pass run
    * before clustering/linear probes so no dimension dominates by raw
    * scale. Long-form output (vec_id, dim, z) so the oracle stays a
    * plain join (array reassembly is a collect_list away for callers).
    *
    * One posexplode scan → micros-exact per-dim moments (the
    * [[embeddingDimStats]] integerisation: Σq, Σq² in decimal — cents²
    * overflow law) on a 64-row bounded frame, broadcast back over a
    * second scan. Zero-variance dims emit z = 0.0 (not null — a
    * constant dim standardizes to its mean, and downstream dot products
    * must not null-poison). Same varNum guard as the z-score family:
    * the numerator test, never sqrt-then-compare (NaN > 0 is true
    * under Spark total ordering). */
  def embeddingStandardize(spark: SparkSession, sfDir: String): DataFrame = {
    val exploded = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .withColumn("q", floor(col("x") * 1e6 + 0.5).cast("long"))
    val stats = exploded.groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("q").as("sq"),
        sum(col("q").cast("decimal(38,0)") * col("q")).as("sqq"))
    val varNum = col("sqq").cast("double") * col("n") -
      col("sq").cast("double") * col("sq")
    exploded.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        Det.r(when(varNum > 0,
          (col("q") - col("sq").cast("double") / col("n")) /
            sqrt(varNum / (col("n").cast("double") * col("n"))))
          .otherwise(lit(0.0)), 6).as("z"))
      .orderBy("vec_id", "dim")
  }

  val embeddingStandardizeSql: String =
    s"""WITH x AS (
       |  SELECT vec_id, CAST(i - 1 AS INT) AS dim,
       |         CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
       |              * 1e6 + 0.5) AS BIGINT) AS q
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
       |st AS (SELECT dim, count(*) AS n, sum(q) AS sq,
       |              sum(CAST(q AS DECIMAL(38,0)) * q) AS sqq
       |       FROM x GROUP BY 1)
       |SELECT vec_id, dim,
       |       ${Det.rSql(
        "CASE WHEN CAST(sqq AS DOUBLE) * n - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) > 0 " +
          "THEN (q - CAST(sq AS DOUBLE) / n) " +
          "/ sqrt((CAST(sqq AS DOUBLE) * n - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) " +
          "/ (CAST(n AS DOUBLE) * n)) ELSE 0.0 END", 6)} AS z
       |FROM x JOIN st USING (dim)
       |ORDER BY vec_id, dim""".stripMargin

  private val KnnEdges = "raw"

  /** SEMANTIC CLUSTERS: connected components of the kNN graph — the
    * unsupervised "what topical islands does this corpus contain"
    * readout (SemDeDup clusters per prototype; this labels EVERY
    * edge-touching vector with its component and size). Engine:
    * [[Dedup.ccLabelsOf]] — the same union-find fast path /
    * large-star–small-star fixpoint (checkpointed, star-forest-proved)
    * that resolves dedup clusters, run over the session-materialized
    * kNN edges symmetrized to unique (min, max) pairs. Isolated vectors
    * (no bucket mate) emit nothing — the family's sparse-output
    * semantics. Oracle: recursive min-reachability closure over the
    * shared kNN edge CTE chain. */
  def knnComponents(spark: SparkSession, sfDir: String,
                    k: Int = KnnK, edges: String = KnnEdges): DataFrame =
    componentsOver(spark, edgeFrameFor(spark, sfDir, k, edges))

  /** [[knnComponents]] over an EXPLICIT directed edge frame (vec_id,
    * neighbor, ...) — the seam that lets the mutual-sparsified graph
    * ([[knnMutual]]) feed the same component machinery (SimilaritySpec's
    * hub A/B). */
  private[graft] def componentsOver(spark: SparkSession,
                                    edges: DataFrame): DataFrame = {
    val pairs = edges
      .select(least(col("vec_id"), col("neighbor")).as("doc_a"),
        greatest(col("vec_id"), col("neighbor")).as("doc_b"))
      .distinct()
    val labels = Dedup.ccLabelsOf(spark, pairs)
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "comp")
      .select(col("doc_id").as("vec_id"), col("comp").as("cluster_id"),
        col("n_members"))
      .orderBy("vec_id")
  }

  /** Arg-templated twin — `edges=mutual` restricts the pair source to
    * reciprocated top-k links via a MATERIALIZED self-join (one rk
    * evaluation, referenced twice). */
  def knnComponentsSqlFor(k: Int, edges: String): String = {
    val kp =
      if (edges == "mutual")
        s"""kmm AS MATERIALIZED (SELECT vec_id, neighbor FROM rk WHERE rank <= $k),
           |kp AS (SELECT DISTINCT least(g.vec_id, g.neighbor) AS doc_a,
           |              greatest(g.vec_id, g.neighbor) AS doc_b
           |       FROM kmm g JOIN kmm g2 ON g2.vec_id = g.neighbor
           |                              AND g2.neighbor = g.vec_id)""".stripMargin
      else
        s"""kp AS (SELECT DISTINCT least(vec_id, neighbor) AS doc_a,
           |              greatest(vec_id, neighbor) AS doc_b
           |       FROM rk WHERE rank <= $k)""".stripMargin
    s"""WITH RECURSIVE
       |$knnEdgeCtesSql,
       |$kp,
       |ke2 AS (SELECT doc_a AS src, doc_b AS dst FROM kp
       |        UNION ALL SELECT doc_b, doc_a FROM kp),
       |reach(v, m) AS (
       |  SELECT DISTINCT src, src FROM ke2
       |  UNION
       |  SELECT e.src, r.m FROM ke2 e JOIN reach r ON e.dst = r.v),
       |lab AS (SELECT v AS vec_id, min(m) AS cluster_id
       |        FROM reach GROUP BY v)
       |SELECT vec_id, cluster_id,
       |       count(*) OVER (PARTITION BY cluster_id) AS n_members
       |FROM lab ORDER BY vec_id""".stripMargin
  }

  /** IVF-PARTITION MODULARITY: how well the coarse quantizer's cells
    * respect the kNN neighborhood structure — per cell, member count,
    * internal kNN edges (e_in), degree mass (d_sum), CUT edges
    * (d_sum − 2·e_in: neighbor pairs the cell boundary severs) and the
    * Newman modularity contribution e_in/m − (d_sum/2m)². The cut mass
    * IS the single-probe recall leak made structural: every cut edge is
    * a true near neighbor that nprobe=1 search cannot see, so this one
    * readout explains (and lets an operator TUNE, via cells/nprobe)
    * the candidate-recall ceiling the multiprobe family lifts.
    *
    * Scale shape: both substrates are memoized family state (kNN edges:
    * n·k rows; cell assignment: one broadcast-centroid map pass); the
    * query itself joins edges to two cell labels on vec_id
    * (high-cardinality equi-joins carrying 3 longs), then aggregates to
    * |cells| rows — model-state-sized output. The edge total m is a
    * 1-row broadcast. Nothing here touches vectors. */
  def ivfModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = knnEdgesMaterialized(spark, sfDir, KnnK)
      .select(least(col("vec_id"), col("neighbor")).as("a"),
        greatest(col("vec_id"), col("neighbor")).as("b"))
      .distinct()
    val cells = graft.queries.TextAnalysis.maybeCache(
      ivfAssigned(spark, sfDir))
    val ej = graft.queries.TextAnalysis.maybeCache(edges
      .join(cells.select(col("vec_id").as("a"), col("cell").as("ca")), "a")
      .join(cells.select(col("vec_id").as("b"), col("cell").as("cb")), "b")
      .select("ca", "cb"))
    val m = edges.agg(count(lit(1)).as("m"))
    val deg = ej.select(col("ca").as("cell"))
      .union(ej.select(col("cb").as("cell")))
      .groupBy("cell").agg(count(lit(1)).as("d_sum"))
    val ein = ej.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("cell")).agg(count(lit(1)).as("e_in"))
    val sizes = cells.groupBy("cell").agg(count(lit(1)).as("n_members"))
    val base = sizes
      .join(deg, Seq("cell"), "left")
      .join(ein, Seq("cell"), "left")
      .select(col("cell"), col("n_members"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("d_sum"), lit(0L)).as("d_sum"))
      .crossJoin(broadcast(m))
    val half = base.col("d_sum").cast("double") / (base.col("m") * lit(2L))
    base.select(col("cell"), col("n_members"), col("e_in"), col("d_sum"),
        (col("d_sum") - lit(2L) * col("e_in")).as("cut_edges"),
        when(col("m") > 0,
          Det.r(col("e_in").cast("double") / col("m") - half * half, 6))
          .otherwise(lit(0.0)).as("q_contrib"))
      .orderBy("cell")
  }

  /** DuckDB twin — [[knnEdgeCtesSql]] (kNN edges) composed with
    * [[ivfChainAfterE]] (the Lloyd chain's full-corpus assignment
    * `fin`, re-materialized since two joins consume it); identical
    * IEEE expression shape for the contribution. */
  // lazy: NProbe/LloydIters are declared further down the object; a strict
  // val here would capture them uninitialized (object-init order)
  lazy val ivfModularitySql: String =
    s"""WITH RECURSIVE
       |$knnEdgeCtesSql,
       |kp AS MATERIALIZED (
       |  SELECT DISTINCT least(vec_id, neighbor) AS a,
       |         greatest(vec_id, neighbor) AS b
       |  FROM rk WHERE rank <= $KnnK),
       |${ivfChainAfterE(NProbe)},
       |finm AS MATERIALIZED (SELECT vec_id, cell FROM fin),
       |mm AS (SELECT count(*) AS m FROM kp),
       |ej AS MATERIALIZED (
       |  SELECT fa.cell AS ca, fb.cell AS cb
       |  FROM kp JOIN finm fa ON kp.a = fa.vec_id
       |          JOIN finm fb ON kp.b = fb.vec_id),
       |deg AS (SELECT cell, count(*) AS d_sum
       |        FROM (SELECT ca AS cell FROM ej
       |              UNION ALL SELECT cb FROM ej) GROUP BY cell),
       |ein AS (SELECT ca AS cell, count(*) AS e_in FROM ej
       |        WHERE ca = cb GROUP BY ca),
       |sz AS (SELECT cell, count(*) AS n_members FROM finm GROUP BY cell)
       |SELECT sz.cell, sz.n_members,
       |       COALESCE(ein.e_in, 0) AS e_in,
       |       COALESCE(deg.d_sum, 0) AS d_sum,
       |       COALESCE(deg.d_sum, 0) - 2 * COALESCE(ein.e_in, 0) AS cut_edges,
       |       CASE WHEN mm.m > 0 THEN ${Det.rSql(
            "CAST(COALESCE(ein.e_in, 0) AS DOUBLE) / mm.m" +
              " - (CAST(COALESCE(deg.d_sum, 0) AS DOUBLE) / (mm.m * 2))" +
              " * (CAST(COALESCE(deg.d_sum, 0) AS DOUBLE) / (mm.m * 2))", 6)}
       |       ELSE 0.0 END AS q_contrib
       |FROM sz LEFT JOIN deg USING (cell) LEFT JOIN ein USING (cell)
       |CROSS JOIN mm
       |ORDER BY sz.cell""".stripMargin

  /** Hop bound for [[seedExpansion]] — mirrored by the oracle's three
    * unrolled MATERIALIZED rounds. */
  private val BfsMaxHops = 3

  /** SEED EXPANSION: bounded-hop BFS over the kNN graph from a curated
    * seed set (the [[NumQueries]] query vectors play the seeds) — the
    * standard curation move for growing a small hand-labeled set into a
    * training slice ("give me everything within 3 semantic hops of the
    * docs we trust"). Output is every reached vector with its minimum
    * hop count; hop 0 = the seeds themselves.
    *
    * Scale shape: the edge substrate is the memoized [[knnGraph]] frame
    * (banded-LSH build, priced once per corpus dir); each of the
    * ≤ [[BfsMaxHops]] rounds is one frontier⋈edges shuffle on vec_id
    * whose size tracks the REACHED set (ball of the seeds), not the
    * corpus — the anti-join keeps visited nodes out of the frontier so
    * a dense ball converges instead of re-expanding. min-hops needs no
    * tie-break: the first round that reaches a node IS its minimum.
    * Round count is a fixed constant, so the lineage stays bounded (the
    * pagerank discipline); the oracle unrolls the same three rounds as
    * MATERIALIZED CTEs (the 2^rounds plan-inlining trap). */
  def seedExpansion(spark: SparkSession, sfDir: String,
                    maxHops: Int = BfsMaxHops): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val pairs = knnEdgesMaterialized(spark, sfDir, KnnK)
      .select(least(col("vec_id"), col("neighbor")).as("a"),
        greatest(col("vec_id"), col("neighbor")).as("b"))
      .distinct()
    val und = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val seeds = vecs(spark, sfDir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), lit(0).as("hops"))
    var reached = seeds
    var frontier = seeds.select("vec_id")
    for (h <- 1 to maxHops) {
      val next = frontier.join(und, frontier("vec_id") === und("src"))
        .select(col("dst").as("vec_id")).distinct()
        .join(reached.select("vec_id"), Seq("vec_id"), "left_anti")
      reached = reached.unionByName(next.withColumn("hops", lit(h)))
      frontier = next
    }
    reached.orderBy("vec_id")
  }

  /** DuckDB twin of [[seedExpansion]] — the knn edge chain + three
    * unrolled BFS rounds, each MATERIALIZED (a plain CTE referenced
    * twice per round doubles the plan per round — 2^rounds scans). */
  val seedExpansionSql: String =
    s"""WITH RECURSIVE
       |$knnEdgeCtesSql,
       |kp AS (SELECT DISTINCT least(vec_id, neighbor) AS a,
       |              greatest(vec_id, neighbor) AS b
       |       FROM rk WHERE rank <= $KnnK),
       |und AS (SELECT a AS src, b AS dst FROM kp
       |        UNION ALL SELECT b, a FROM kp),
       |d0 AS MATERIALIZED (
       |  SELECT vec_id, 0 AS hops FROM embeddings WHERE vec_id < $NumQueries),
       |${(1 to BfsMaxHops).map { h =>
          s"""d$h AS MATERIALIZED (
             |  SELECT vec_id, min(hops) AS hops FROM (
             |    SELECT vec_id, hops FROM d${h - 1}
             |    UNION ALL
             |    SELECT e.dst AS vec_id, $h AS hops
             |    FROM und e JOIN d${h - 1} p ON e.src = p.vec_id
             |      AND p.hops = ${h - 1}
             |  ) GROUP BY vec_id)""".stripMargin
        }.mkString(",\n")}
       |SELECT vec_id, CAST(hops AS INT) AS hops
       |FROM d$BfsMaxHops ORDER BY vec_id""".stripMargin

  private val KnnDeltaMod = 10L

  /** INCREMENTAL kNN INGEST: the top-[[KnnK]] BASE-corpus neighbors of
    * each DELTA vector (vec_id ≡ 0 mod [[KnnDeltaMod]] plays the newly
    * arrived batch) — [[graft.queries.Dedup.dedupDelta]]'s incremental
    * argument applied to ANN: a nightly embedding ingest probes the
    * EXISTING index's buckets; it never rescores base×base (the already-
    * indexed corpus is untouched except where a delta vector collides),
    * so ingest cost tracks |delta|·occupancy, not corpus². Same adaptive
    * signature substrate as [[knnGraph]]; delta→base candidate pairs
    * are scored inside the bucket join (the r8 spill discipline) and
    * ranked by the bounded [[graft.functions.TopKScores]]. Delta vectors whose buckets
    * hold no base mate emit nothing (the sparse-output semantics of the
    * family). */
  def knnDelta(spark: SparkSession, sfDir: String,
               k: Int = KnnK, deltaMod: Long = KnnDeltaMod): DataFrame = {
    require(k > 0 && deltaMod > 1, s"need k > 0, deltaMod > 1")
    val all = vecs(spark, sfDir)
    val sigs = signaturesFor(spark, all, NumTables,
      derivedSigBits(corpusVecCount(spark, sfDir)))
    val sigv = sigs.join(all, "vec_id")
    val delta = sigv.filter(col("vec_id") % deltaMod === 0)
      .select(col("t"), col("sig"), col("vec_id").as("qid"),
        col("v").as("xa"), col("norm").as("na"))
    val base = sigv.filter(col("vec_id") % deltaMod =!= 0)
      .select(col("t"), col("sig"), col("vec_id"),
        col("v").as("xb"), col("norm").as("nb"))
    val scored = delta.join(base, Seq("t", "sig"))
      .select(col("qid"), col("vec_id"),
        floor(dot(col("xa"), col("xb")) / (col("na") * col("nb"))
          * 1e6 + 0.5).cast("long").as("score_u"))
      .distinct()
    topKScored(spark, scored, k)
      .withColumnRenamed("vec_id", "neighbor")
      .withColumnRenamed("qid", "vec_id")
      .select(col("vec_id"), col("rank"), col("neighbor"),
        (col("score_u").cast("double") / 1e6).as("cosine"))
      .orderBy("vec_id", "rank")
  }

  val knnDeltaSql: String =
    s"""WITH RECURSIVE
       |$lshSigChainAdaptiveSql,
       |dp AS (SELECT DISTINCT sa.vec_id AS qid, sb.vec_id AS neighbor
       |       FROM sigs sa JOIN sigs sb
       |         ON sa.t = sb.t AND sa.sig = sb.sig
       |       WHERE sa.vec_id % $KnnDeltaMod = 0
       |         AND sb.vec_id % $KnnDeltaMod <> 0),
       |dsc AS (SELECT p.qid, p.neighbor,
       |               CAST(floor(list_dot_product(a.v, b.v) / (a.norm * b.norm)
       |                          * 1e6 + 0.5) AS BIGINT) AS score_u
       |        FROM dp p JOIN n a ON a.vec_id = p.qid
       |                  JOIN n b ON b.vec_id = p.neighbor),
       |drk AS (SELECT qid, neighbor, score_u,
       |               row_number() OVER (PARTITION BY qid
       |                  ORDER BY score_u DESC, neighbor ASC) AS rank
       |        FROM dsc)
       |SELECT qid AS vec_id, CAST(rank AS INT) AS rank, neighbor,
       |       CAST(score_u AS DOUBLE) / 1e6 AS cosine
       |FROM drk WHERE rank <= $KnnK
       |ORDER BY vec_id, rank""".stripMargin

  // --------------------------------------------------------------------
  // Semi-supervised label propagation over the kNN graph
  // --------------------------------------------------------------------

  private val LpIters = 3
  private val LpMaskMod = 4

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002) over the
    * [[knnGraph]] edges — the label-completion step of a curation
    * pipeline: a deterministic 1/[[LpMaskMod]] of nodes (vec_id ≡ 0 mod
    * [[LpMaskMod]]) is masked "unlabeled", then [[LpIters]] clamped-seed
    * rounds let each unlabeled node adopt the majority label of its
    * neighbors (count DESC, label ASC tie-break); seeds never change.
    * Emits per node: true label, observed flag, propagated label (NULL
    * if no labeled node is reachable in [[LpIters]] hops — isolates keep
    * the documented sparse-output semantics of [[knnGraph]]), and
    * `correct` on the masked holdout — so the query IS its own
    * evaluation harness.
    *
    * On the driver fixture the labels are geometrically random (measured
    * kNN label homophily 10.5% ≈ the 10-class chance rate), so holdout
    * accuracy there is chance by construction — the MECHANISM (majority
    * adoption, clamping, tie-breaks, isolate handling) is pinned on a
    * synthetic clustered fixture in SimilaritySpec, the pii_scrub move.
    *
    * Scale: the edge list is k·n rows, built once and cached
    * ([[TextAnalysis.maybeCache]], the pagerank loop-invariant
    * discipline); each round is one edges⋈labels shuffle on the neighbor
    * key + one (node, label) count agg — label-cardinality-bounded state,
    * never corpus². Determinism: integer tallies, total-order tie-break,
    * clamped seeds. */
  def labelPropagation(spark: SparkSession, sfDir: String,
                       iters: Int = LpIters, k: Int = KnnK,
                       maskMod: Int = LpMaskMod,
                       edges: String = KnnEdges): DataFrame =
    labelPropagationOver(spark,
      edgeFrameFor(spark, sfDir, k, edges).select("vec_id", "neighbor"),
      Tables.embeddings(spark, sfDir), iters, maskMod)

  /** [[labelPropagation]] over an EXPLICIT directed edge frame (vec_id,
    * neighbor) and node frame (vec_id, label) — the seam for running
    * the identical clamped-majority rounds on the mutual-sparsified
    * graph (SimilaritySpec's hub A/B). */
  private[graft] def labelPropagationOver(spark: SparkSession,
                                          edgesIn: DataFrame,
                                          nodesIn: DataFrame,
                                          iters: Int = LpIters,
                                          maskMod: Int = LpMaskMod): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    require(maskMod > 1, s"maskMod must be > 1, got $maskMod")
    val edges = graft.queries.TextAnalysis.maybeCache(
      edgesIn.select("vec_id", "neighbor"))
    val nodes = graft.queries.TextAnalysis.maybeCache(
      nodesIn
        .select(col("vec_id"), col("label"),
          (col("vec_id") % maskMod =!= 0).as("observed")))
    var cur = nodes.withColumn("cur",
      when(col("observed"), col("label")))
    for (_ <- 1 to iters) {
      val tally = edges
        .join(cur.select(col("vec_id").as("neighbor"), col("cur").as("nl")),
          "neighbor")
        .filter(col("nl").isNotNull)
        .groupBy("vec_id", "nl").agg(count(lit(1)).as("cnt"))
      val best = tally
        .groupBy("vec_id")
        .agg(max(struct(col("cnt"), (-col("nl")).as("negl"))).as("m"))
        .select(col("vec_id"), (-col("m.negl")).as("maj"))
      cur = nodes.join(best, Seq("vec_id"), "left")
        .withColumn("cur",
          when(col("observed"), col("label")).otherwise(col("maj")))
        .select("vec_id", "label", "observed", "cur")
    }
    cur.select(col("vec_id"), col("label").as("true_label"),
        col("observed"), col("cur").as("pred_label"),
        when(!col("observed"), col("cur") === col("label")).as("correct"))
      .orderBy("vec_id")
  }

  /** DuckDB twin of [[labelPropagation]] — the [[knnEdgeCtesSql]] chain,
    * then the clamped majority rounds unrolled as CTEs. Templated on
    * every result-affecting argument (iters/k/mask_mod/edges) so the
    * non-default-arg gate covers the whole surface; `edges=mutual`
    * swaps the edge CTE for the reciprocated self-join (MATERIALIZED —
    * one rk evaluation). */
  def labelPropagationSqlFor(iters: Int, k: Int, maskMod: Int,
                             edges: String): String = {
    val rounds = (1 to iters).map { r =>
      s"""lpt$r AS (SELECT e.vec_id, l.cur AS nl, count(*) AS cnt
         |        FROM lpe e JOIN lpl${r - 1} l ON l.vec_id = e.neighbor
         |        WHERE l.cur IS NOT NULL
         |        GROUP BY e.vec_id, l.cur),
         |lpb$r AS (SELECT vec_id, nl AS maj
         |        FROM (SELECT vec_id, nl,
         |                     row_number() OVER (PARTITION BY vec_id
         |                        ORDER BY cnt DESC, nl ASC) AS rn
         |              FROM lpt$r)
         |        WHERE rn = 1),
         |lpl$r AS MATERIALIZED (
         |  SELECT n.vec_id, n.label, n.observed,
         |         CASE WHEN n.observed THEN n.label ELSE b.maj END AS cur
         |  FROM lpl0 n LEFT JOIN lpb$r b USING (vec_id))""".stripMargin
    }.mkString(",\n")
    val lpe =
      if (edges == "mutual")
        s"""lpm AS MATERIALIZED (SELECT vec_id, neighbor FROM rk WHERE rank <= $k),
           |lpe AS (SELECT g.vec_id, g.neighbor FROM lpm g
           |        JOIN lpm g2 ON g2.vec_id = g.neighbor
           |                   AND g2.neighbor = g.vec_id)""".stripMargin
      else s"lpe AS (SELECT vec_id, neighbor FROM rk WHERE rank <= $k)"
    s"""WITH RECURSIVE
       |$knnEdgeCtesSql,
       |$lpe,
       |lpl0 AS (SELECT vec_id, label, (vec_id % $maskMod <> 0) AS observed,
       |              CASE WHEN vec_id % $maskMod <> 0 THEN label END AS cur
       |       FROM embeddings),
       |$rounds
       |SELECT vec_id, label AS true_label, observed, cur AS pred_label,
       |       CASE WHEN NOT observed THEN cur = label END AS correct
       |FROM lpl$iters ORDER BY vec_id""".stripMargin
  }

  val labelPropagationSql: String =
    labelPropagationSqlFor(LpIters, KnnK, LpMaskMod, "raw")

  // --------------------------------------------------------------------
  // k-core decomposition of the kNN graph
  // --------------------------------------------------------------------

  private val KcoreK = 3
  private val KcorePeels = 8

  /** K-CORE of the kNN graph: iteratively peel nodes of degree <
    * [[KcoreK]] from the symmetrized edge set until stable; survivors
    * (with their in-core degree) are the graph's dense backbone — the
    * standard "prototype region" detector over an embedding corpus
    * (dense cores = well-represented content; everything peeled = the
    * sparse fringe that ANN search and semdedup treat differently).
    *
    * Substrate: the session-materialized [[knnEdgesMaterialized]] frame
    * (n·k rows — the expensive LSH build is paid once per session across
    * the whole knn family), symmetrized with one distinct. Each peel
    * round is one degree agg + two semi joins ON THE SAME `a`/`b` keys
    * (the frame only shrinks), localCheckpoint'd to stop lineage
    * doubling — the [[graft.queries.Relational.partPagerank]] loop
    * discipline. Rounds cap at [[KcorePeels]] with a count-gated early
    * exit at the fixpoint; the cap and the oracle agree BY CONSTRUCTION
    * because peeling a fixpoint is the identity, so an early-exited run
    * equals the oracle's full [[KcorePeels]] unrolled rounds. At 100 TB
    * the per-round cost is |surviving edges| — monotonically shrinking,
    * shuffle-keyed on the node id, no broadcast, no driver state beyond
    * the one count per round. */
  def kcoreGraph(spark: SparkSession, sfDir: String,
                 k: Int = KnnK, coreK: Int = KcoreK,
                 peels: Int = KcorePeels): DataFrame = {
    require(coreK > 0 && peels > 0, s"coreK/peels must be positive")
    val e = knnEdgesMaterialized(spark, sfDir, k)
      .select(col("vec_id").as("a"), col("neighbor").as("b"))
    var edges = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    var nEdges = edges.count()
    var round = 0
    var stable = false
    while (round < peels && !stable) {
      val keep = edges.groupBy("a").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= coreK).select("a")
      edges = edges.join(keep, Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("a", "b"), Seq("b"), "left_semi")
        .select("a", "b").localCheckpoint()
      val n = edges.count()
      stable = n == nEdges
      nEdges = n
      round += 1
    }
    edges.groupBy("a").agg(count(lit(1)).as("degree"))
      .select(col("a").as("vec_id"), col("degree"))
      .orderBy("vec_id")
  }

  /** DuckDB twin of [[kcoreGraph]] — the [[knnEdgeCtesSql]] chain, the
    * symmetrized distinct edge set, then [[KcorePeels]] peel rounds
    * unrolled as CTE pairs (degree filter + edge restriction). */
  def kcoreGraphSqlFor(knnK: Int, coreK: Int, nPeels: Int): String = {
    // MATERIALIZED throughout (the labelPropagationSql lesson): each
    // round references the previous edge set twice and the node set
    // twice — inlined CTEs would double the plan per round (2^peels
    // scans of the parquet + LSH chain; observed as DuckDB running out
    // of file handles)
    val peels = (1 to nPeels).map { i =>
      val p = i - 1
      s"""kn$i AS MATERIALIZED (
         |  SELECT a FROM ke$p GROUP BY a HAVING count(*) >= $coreK),
         |ke$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM ke$p e JOIN kn$i x ON e.a = x.a
         |  JOIN kn$i y ON e.b = y.a)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |$knnEdgeCtesSql,
       |ke0 AS MATERIALIZED (SELECT DISTINCT a, b FROM (
       |          SELECT vec_id AS a, neighbor AS b FROM rk WHERE rank <= $knnK
       |          UNION ALL
       |          SELECT neighbor, vec_id FROM rk WHERE rank <= $knnK) t),
       |$peels
       |SELECT a AS vec_id, count(*) AS degree
       |FROM ke$nPeels GROUP BY a ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // Hard-negative mining (contrastive training pairs)
  // --------------------------------------------------------------------

  /** HARD-NEGATIVE MINING: for every vector, its top-[[KnnK]] most
    * similar neighbors with a DIFFERENT label — the contrastive-pair
    * miner behind embedding-model training ("the negatives that look
    * like positives teach the most"; cf. sentence-transformers hard
    * negatives, FaceNet semi-hard mining).
    *
    * Same substrate as [[knnGraph]]: sign-LSH bucket self-join →
    * DISTINCT undirected candidate pairs (cost tracks bucket occupancy,
    * never n²), labels joined BEFORE scoring so same-label pairs never
    * pay the cosine, each surviving pair scored once and emitted both
    * directions, per-anchor top-k via the bounded [[graft.functions.TopKScores]]
    * (O(k) state — no corpus-sized window). Sparse-output semantics as
    * [[knnGraph]]: anchors with no cross-label bucket mate emit
    * nothing. At 100 TB the label frame is corpus-sized — it joins on
    * vec_id (co-keyed hash join), never broadcasts. */
  def hardNegatives(spark: SparkSession, sfDir: String, k: Int = KnnK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val all = vecs(spark, sfDir)
    val labels = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val sigs = signaturesFor(spark, all, NumTables,
      derivedSigBits(corpusVecCount(spark, sfDir)))
    // same score-in-bucket shape as [[knnEdges]] (see the spill note
    // there), with the label attached to the signature stream so
    // same-label pairs are filtered BEFORE the dot product
    val sigv = sigs.join(all, "vec_id").join(labels, "vec_id")
    val scoredPairs = sigv
      .select(col("t"), col("sig"), col("vec_id").as("va"),
        col("v").as("xa"), col("norm").as("na"), col("label").as("la"))
      .join(sigv.select(col("t"), col("sig"), col("vec_id").as("vb"),
        col("v").as("xb"), col("norm").as("nb"), col("label").as("lb")),
        Seq("t", "sig"))
      .filter(col("va") < col("vb") && col("la") =!= col("lb"))
      .select(col("va"), col("vb"),
        floor(dot(col("xa"), col("xb")) / (col("na") * col("nb"))
          * 1e6 + 0.5).as("score_u"))
      .distinct()
    val directed = scoredPairs
      .select(col("va").as("qid"), col("vb").as("vec_id"), col("score_u"))
      .union(scoredPairs.select(col("vb").as("qid"), col("va").as("vec_id"),
        col("score_u")))
    topKScored(spark, directed, k)
      .withColumnRenamed("vec_id", "negative")
      .withColumnRenamed("qid", "vec_id")
      .join(labels, "vec_id")
      .join(labels.select(col("vec_id").as("negative"),
        col("label").as("neg_label")), "negative")
      .select(col("vec_id"), col("label"), col("rank"), col("negative"),
        col("neg_label"), (col("score_u").cast("double") / 1e6).as("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** DuckDB twin of [[hardNegatives]] — the [[knnGraphSql]] chain with
    * the label anti-filter applied before scoring. */
  val hardNegativesSql: String =
    s"""WITH RECURSIVE
       |$lshSigChainAdaptiveSql,
       |lbl AS (SELECT vec_id, label FROM embeddings),
       |pr AS (SELECT DISTINCT sa.vec_id AS va, sb.vec_id AS vb
       |       FROM sigs sa JOIN sigs sb
       |         ON sa.t = sb.t AND sa.sig = sb.sig AND sa.vec_id < sb.vec_id),
       |pf AS (SELECT p.va, p.vb FROM pr p
       |       JOIN lbl x ON x.vec_id = p.va
       |       JOIN lbl y ON y.vec_id = p.vb
       |       WHERE x.label <> y.label),
       |sc AS (SELECT p.va, p.vb,
       |              CAST(floor(list_dot_product(a.v, b.v) / (a.norm * b.norm)
       |                         * 1e6 + 0.5) AS BIGINT) AS score_u
       |       FROM pf p JOIN n a ON a.vec_id = p.va
       |                 JOIN n b ON b.vec_id = p.vb),
       |dr AS (SELECT va AS vec_id, vb AS negative, score_u FROM sc
       |       UNION ALL
       |       SELECT vb, va, score_u FROM sc),
       |rk AS (SELECT vec_id, negative, score_u,
       |              row_number() OVER (PARTITION BY vec_id
       |                 ORDER BY score_u DESC, negative ASC) AS rank
       |       FROM dr)
       |SELECT r.vec_id, x.label, CAST(r.rank AS INT) AS rank, r.negative,
       |       y.label AS neg_label, CAST(r.score_u AS DOUBLE) / 1e6 AS cosine
       |FROM rk r JOIN lbl x ON x.vec_id = r.vec_id
       |          JOIN lbl y ON y.vec_id = r.negative
       |WHERE r.rank <= $KnnK
       |ORDER BY r.vec_id, r.rank""".stripMargin

  // --------------------------------------------------------------------
  // Neighborhood coherence (kNN-smoothed consistency score)
  // --------------------------------------------------------------------

  /** NEIGHBORHOOD COHERENCE: cosine between each vector and the MEAN of
    * its [[knnGraph]] neighbors — the local-consistency score curation
    * uses to flag noisy/mislabeled embeddings (a vector pointing away
    * from its own neighborhood is suspect; the 1-hop GNN aggregation
    * readout).
    *
    * All-integer construction: components integerise to micros
    * (|x| ≤ ~0.53 → ≤ 5.3e5), the neighbor-mean keeps its integer
    * NUMERATOR (Σ over ≤ k neighbors — the /k and the /1e6 cancel in
    * the cosine), so dot/norms are exact int64 sums (≤ ~1.6e14 over 64
    * dims, double-exact) and the final divide/sqrt is the same literal
    * expression on both engines. Shape: kNN edges (bucket-occupancy
    * cost) → explode to (vec_id, dim) — 64·k rows per vector, keyed
    * shuffles only — two grouped aggs, one keyed join. Sparse-output
    * semantics as [[knnGraph]] (isolates emit nothing). */
  def knnCoherence(spark: SparkSession, sfDir: String, k: Int = KnnK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val all = vecs(spark, sfDir)
    val edges = knnEdgesMaterialized(spark, sfDir, k)
      .select(col("vec_id"), col("neighbor"))
    val comps = all
      .select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        floor(col("x") * 1e6 + 0.5).cast("long").as("cu"))
    val msum = edges
      .join(comps.withColumnRenamed("vec_id", "neighbor"), "neighbor")
      .groupBy("vec_id", "dim").agg(sum("cu").as("mnum"))
    val nN = edges.groupBy("vec_id").agg(count(lit(1)).as("n_neighbors"))
    comps.join(msum, Seq("vec_id", "dim"))
      .groupBy("vec_id")
      .agg(sum(col("cu") * col("mnum")).as("dot_im"),
        sum(col("cu") * col("cu")).as("sx"),
        sum(col("mnum") * col("mnum")).as("sm"))
      .join(nN, "vec_id")
      .select(col("vec_id"), col("n_neighbors"),
        Det.r(when(col("sx") > 0 && col("sm") > 0,
          col("dot_im").cast("double") /
            (sqrt(col("sx").cast("double")) * sqrt(col("sm").cast("double")))), 6)
          .as("coherence"))
      .orderBy("vec_id")
  }

  val knnCoherenceSql: String =
    s"""WITH RECURSIVE
       |$knnEdgeCtesSql,
       |ed AS (SELECT vec_id, neighbor FROM rk WHERE rank <= $KnnK),
       |cp0 AS (SELECT vec_id, unnest(range(len(v))) AS dim, unnest(v) AS x FROM n),
       |cp AS (SELECT vec_id, dim, CAST(floor(x * 1e6 + 0.5) AS BIGINT) AS cu
       |       FROM cp0),
       |ms AS (SELECT e.vec_id, c.dim, CAST(sum(c.cu) AS BIGINT) AS mnum
       |       FROM ed e JOIN cp c ON c.vec_id = e.neighbor
       |       GROUP BY e.vec_id, c.dim),
       |nn AS (SELECT vec_id, count(*) AS n_neighbors FROM ed GROUP BY vec_id),
       |ag AS (SELECT c.vec_id,
       |              CAST(sum(c.cu * m.mnum) AS BIGINT) AS dot_im,
       |              CAST(sum(c.cu * c.cu) AS BIGINT) AS sx,
       |              CAST(sum(m.mnum * m.mnum) AS BIGINT) AS sm
       |       FROM cp c JOIN ms m ON m.vec_id = c.vec_id AND m.dim = c.dim
       |       GROUP BY c.vec_id)
       |SELECT a.vec_id, nn.n_neighbors,
       |       ${Det.rSql(
              "CASE WHEN a.sx > 0 AND a.sm > 0 THEN CAST(a.dot_im AS DOUBLE) " +
              "/ (sqrt(CAST(a.sx AS DOUBLE)) * sqrt(CAST(a.sm AS DOUBLE))) END", 6)}
       |         AS coherence
       |FROM ag a JOIN nn ON nn.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  // --------------------------------------------------------------------
  // Filtered ANN (metadata predicate inside the search)
  // --------------------------------------------------------------------

  /** FILTERED VECTOR SEARCH: top-[[TopK]] neighbors per query among
    * vectors sharing the query's label — the metadata-filtered search
    * every production vector store exposes ("same language", "same
    * tenant", "same license bucket").
    *
    * This is PRE-filtering (filter, then search) — the shape that keeps
    * recall exact; post-filtering an unfiltered top-k silently returns
    * < k or misses matches when the filter is selective (the classic
    * filtered-ANN failure mode, documented in every vector-store
    * design). The label predicate joins BEFORE any cosine is paid, so
    * cost is |Q| × |matching corpus|; ranking goes through the bounded
    * O(k)-state [[graft.functions.TopKScores]] — no corpus-sized qid window. At
    * 100 TB a selective filter SHRINKS the scan (label is a partition/
    * cluster key in a real layout — this plan partition-prunes). */
  def annCosineFiltered(spark: SparkSession, sfDir: String, k: Int = TopK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val labels = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val all = vecs(spark, sfDir).join(labels, "vec_id")
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qnorm"), col("label").as("q_label"))
    val scored = all.join(broadcast(q),
        col("vec_id") =!= col("qid") && col("label") === col("q_label"))
      .select(col("qid"), col("vec_id"),
        floor(dot(col("v"), col("qv")) / (col("norm") * col("qnorm"))
          * 1e6 + 0.5).cast("long").as("score_u"))
    topKScored(spark, scored, k)
      .join(broadcast(q.select(col("qid"), col("q_label"))), "qid")
      .select(col("qid"), col("q_label"), col("rank"), col("vec_id"),
        (col("score_u").cast("double") / 1e6).as("cosine"))
      .orderBy("qid", "rank")
  }

  val annCosineFilteredSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
       |           FROM embeddings),
       |n AS (SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS norm
       |      FROM e),
       |q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm, label AS q_label
       |      FROM n WHERE vec_id < $NumQueries),
       |sc AS (SELECT q.qid, q.q_label, n.vec_id,
       |              CAST(floor(list_dot_product(n.v, q.qv) / (n.norm * q.qnorm)
       |                         * 1e6 + 0.5) AS BIGINT) AS score_u,
       |              row_number() OVER (PARTITION BY q.qid
       |                ORDER BY CAST(floor(list_dot_product(n.v, q.qv)
       |                    / (n.norm * q.qnorm) * 1e6 + 0.5) AS BIGINT) DESC,
       |                  n.vec_id ASC) AS rank
       |       FROM n JOIN q ON n.vec_id <> q.qid AND n.label = q.q_label)
       |SELECT qid, q_label, CAST(rank AS INT) AS rank, vec_id,
       |       CAST(score_u AS DOUBLE) / 1e6 AS cosine
       |FROM sc WHERE rank <= $TopK
       |ORDER BY qid, rank""".stripMargin

  // --------------------------------------------------------------------
  // MMR diversified re-rank
  // --------------------------------------------------------------------

  private val MmrR = 20
  private val MmrK = 5

  /** MMR DIVERSIFIED TOP-K (Carbonell & Goldstein 1998): exact top-
    * [[MmrR]] shortlist per query, then greedy Maximal-Marginal-
    * Relevance selection of [[MmrK]] results — score = λ·rel −
    * (1−λ)·max-sim-to-already-selected with λ = 0.7 — the search-result
    * diversifier every production retrieval stack runs after ANN.
    *
    * Scale shape: the corpus is touched ONLY by the shortlist stage
    * (broadcast query set × corpus scan → bounded [[graft.functions.TopKScores]], the
    * same O(k)-state shape as the PQ family); the greedy stage sees
    * |Q|·R rows with their vectors — groupByKey(qid) over R-row groups,
    * O(R²) pair sims per query computed in-task. R and |Q| are the
    * knobs; nothing downstream of the shortlist is corpus-sized.
    *
    * Determinism: relevance and pair sims integerise to micros (the
    * ascending-fold dot matches list_dot_product), the MMR score is
    * 7·rel_u − 3·max_sim_u (λ in tenths — pure int64), ties break
    * vec_id ASC, and the empty-selection penalty is 0 by convention.
    * The oracle unrolls the [[MmrK]] greedy steps as CTEs. */
  def mmrDiversify(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val all = vecs(spark, sfDir)
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        floor(dot(col("v"), col("qv")) / (col("norm") * col("qnorm"))
          * 1e6 + 0.5).cast("long").as("score_u"))
    val shortlist = topKScored(spark, scored, MmrR)
    val cand = shortlist.join(all, "vec_id")
      .select(col("qid"), col("vec_id"), col("score_u"), col("v"), col("norm"))
    val picks = MmrK
    cand.as[(Long, Long, Long, Seq[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Long, Seq[Double], Double)]) =>
        // rel desc, id asc — the deterministic candidate order
        val cs = it.toArray.sortBy(c => (-c._3, c._2))
        val nc = cs.length
        val vsArr = cs.map(_._4.toArray)
        val sim = Array.ofDim[Long](nc, nc)
        var i = 0
        while (i < nc) {
          var j = i + 1
          while (j < nc) {
            val vi = vsArr(i); val vj = vsArr(j)
            var acc = 0.0; var d = 0
            while (d < vi.length) { acc += vi(d) * vj(d); d += 1 }
            val s = math.floor(acc / (cs(i)._5 * cs(j)._5) * 1e6 + 0.5).toLong
            sim(i)(j) = s; sim(j)(i) = s
            j += 1
          }
          i += 1
        }
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val picked = new Array[Boolean](nc)
        val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long, Double)]
        var r = 1
        while (r <= math.min(picks, nc)) {
          var best = -1; var bestScore = Long.MinValue; var bestId = Long.MaxValue
          var c = 0
          while (c < nc) {
            if (!picked(c)) {
              var maxSim = if (selected.isEmpty) 0L else Long.MinValue
              selected.foreach { s => if (sim(c)(s) > maxSim) maxSim = sim(c)(s) }
              val sc = 7L * cs(c)._3 - 3L * maxSim
              if (sc > bestScore || (sc == bestScore && cs(c)._2 < bestId)) {
                best = c; bestScore = sc; bestId = cs(c)._2
              }
            }
            c += 1
          }
          picked(best) = true; selected += best
          res += ((qid, r, cs(best)._2, bestScore, cs(best)._3.toDouble / 1e6))
          r += 1
        }
        res.iterator
      }
      .toDF("qid", "rank", "vec_id", "mmr_u", "cosine")
      .select(col("qid"), col("rank"), col("vec_id"),
        (col("mmr_u").cast("double") / 1e7).as("mmr"), col("cosine"))
      .orderBy("qid", "rank")
  }

  /** DuckDB twin of [[mmrDiversify]] — shortlist + pair sims, then the
    * greedy selection unrolled: step i picks argmax(7·rel − 3·max sim
    * to sel_{i−1}), sel_i = sel_{i−1} ∪ {pick}. */
  val mmrDiversifySql: String = {
    val steps = (2 to MmrK).map { i =>
      s"""m$i AS (SELECT c.qid, c.vec_id, c.rel_u, max(p.sim_u) AS ms
         |        FROM cand c
         |        JOIN ps p ON p.qid = c.qid AND p.ca = c.vec_id
         |        JOIN sel${i - 1} s ON s.qid = p.qid AND s.vec_id = p.cb
         |        WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} z
         |                          WHERE z.qid = c.qid AND z.vec_id = c.vec_id)
         |        GROUP BY c.qid, c.vec_id, c.rel_u),
         |s$i AS (SELECT qid, vec_id, mmr_u FROM (
         |          SELECT qid, vec_id, 7 * rel_u - 3 * ms AS mmr_u,
         |                 row_number() OVER (PARTITION BY qid
         |                   ORDER BY 7 * rel_u - 3 * ms DESC, vec_id ASC) AS rn
         |          FROM m$i) WHERE rn = 1),
         |sel$i AS (SELECT qid, vec_id FROM sel${i - 1}
         |          UNION ALL SELECT qid, vec_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    val finalUnion = (1 to MmrK)
      .map(i => s"SELECT qid, $i AS rank, vec_id, mmr_u FROM s$i")
      .mkString("\n       UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
       |q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM n
       |      WHERE vec_id < $NumQueries),
       |sc AS (SELECT qid, vec_id,
       |              CAST(floor(list_dot_product(v, qv) / (norm * qnorm)
       |                         * 1e6 + 0.5) AS BIGINT) AS rel_u
       |       FROM n JOIN q ON vec_id <> qid),
       |cand AS (SELECT qid, vec_id, rel_u FROM (
       |           SELECT qid, vec_id, rel_u,
       |                  row_number() OVER (PARTITION BY qid
       |                    ORDER BY rel_u DESC, vec_id ASC) AS rn
       |           FROM sc) WHERE rn <= $MmrR),
       |ps AS (SELECT a.qid, a.vec_id AS ca, b.vec_id AS cb,
       |              CAST(floor(list_dot_product(x.v, y.v) / (x.norm * y.norm)
       |                         * 1e6 + 0.5) AS BIGINT) AS sim_u
       |       FROM cand a JOIN cand b ON a.qid = b.qid AND a.vec_id <> b.vec_id
       |       JOIN n x ON x.vec_id = a.vec_id
       |       JOIN n y ON y.vec_id = b.vec_id),
       |s1 AS (SELECT qid, vec_id, 7 * rel_u AS mmr_u FROM (
       |         SELECT qid, vec_id, rel_u,
       |                row_number() OVER (PARTITION BY qid
       |                  ORDER BY rel_u DESC, vec_id ASC) AS rn
       |         FROM cand) WHERE rn = 1),
       |sel1 AS (SELECT qid, vec_id FROM s1),
       |$steps,
       |allp AS ($finalUnion)
       |SELECT a.qid, CAST(a.rank AS INT) AS rank, a.vec_id,
       |       CAST(a.mmr_u AS DOUBLE) / 1e7 AS mmr,
       |       CAST(c.rel_u AS DOUBLE) / 1e6 AS cosine
       |FROM allp a JOIN cand c ON c.qid = a.qid AND c.vec_id = a.vec_id
       |ORDER BY a.qid, a.rank""".stripMargin
  }

  // --------------------------------------------------------------------
  // IVF (inverted-file) ANN
  // --------------------------------------------------------------------

  private val IvfMinCells = 16
  private val IvfCellsCap = 65536
  /** Lloyd rounds of every quantizer [[lloyd]] trains. */
  private val LloydIters = 3
  private val NProbe = 4
  /** Escalated probe count for the multiprobe IVF path — the standard
    * FAISS nprobe knob. Cost scales ~nProbe× on the QUERY side only
    * (|Q|·nProbe cells scanned; the corpus-side index is untouched), so
    * doubling it is cheap while it lifts the coarse-quantizer candidate
    * recall that caps every composed IVF variant. Bounded by
    * [[IvfMinCells]] so the floor-cell corpus stays a strict subset. */
  private val NProbeMp = 8

  /** Cell count DERIVED from corpus size — the `derivedPackShards` move
    * ([[TextAnalysis]]): a hardcoded 16 makes per-query probe cost
    * nProbe·n/16 — LINEAR in n, so at 500k vectors 4 probes covered 25%
    * of the space and the "ANN" path was a slow exact scan (the r3
    * recall@5 = 1.00 tell). cells ≈ √(n/2) balances the two per-query
    * costs that trade against each other — centroid scoring (∝ cells)
    * and member re-rank (∝ nProbe·n/cells) — both O(√n). The floor
    * keeps corpora ≤ 512 vectors at exactly 16 cells (the fixture-scale
    * layout SimilaritySpec's recall bound was measured on); the cap
    * bounds driver-side model state (65536×64 doubles = 33 MB). */
  private[graft] def derivedIvfCells(nVecs: Long): Int =
    math.min(IvfCellsCap.toLong,
      math.max(IvfMinCells.toLong,
        math.round(math.sqrt(nVecs.toDouble / 2.0)))).toInt

  /** The IVF task-side kernels, in a Serializable holder so task
    * closures capture this empty object, not Similarity$ (the
    * NotSerializableException trap). Every centroid score is the same
    * ascending-i dot the SQL twin's `list_dot_product(c.c, v.u)` folds. */
  private[queries] object IvfKernel extends Serializable {
    /** Nearest-centroid probe by max dot product (spherical k-means
      * assignment) — first-wins on strict `>`, matching the SQL twin's
      * (score DESC, cell ASC) ranking. */
    def nearestCell(cs: Array[Array[Double]], u: Array[Double]): Int = {
      var best = 0; var bestDot = Double.NegativeInfinity
      var c = 0
      while (c < cs.length) {
        val w = cs(c); var s = 0.0; var i = 0
        while (i < w.length) { s += w(i) * u(i); i += 1 }
        if (s > bestDot) { bestDot = s; best = c }
        c += 1
      }
      best
    }

    /** Every centroid's score against `u`, by cell. */
    def scores(cs: Array[Array[Double]], u: Array[Double]): Array[Double] =
      cs.map { w =>
        var s = 0.0; var i = 0
        while (i < w.length) { s += w(i) * u(i); i += 1 }
        s
      }

    /** The `n` best cells as (cell, score), by score DESC then cell ASC —
      * a query's probe list. */
    def topCells(cs: Array[Array[Double]], u: Array[Double],
                 n: Int): Array[(Int, Double)] =
      scores(cs, u).zipWithIndex.map(_.swap)
        .sortBy { case (c, s) => (-s, c) }.take(n)
  }

  /** Unit-normalized vectors (vec_id, u: Array[Double]): the coarse
    * quantizer's training input and every assignment pass's rows. Not
    * cached here: [[lloyd]] caches its input only while it trains.
    * Array[Double], not Seq: the primitive-array encoder deserializes
    * without boxing, and the nearestCell inner loop indexes unboxed —
    * the Seq version spent the whole assignment pass in boxed apply()
    * (measured 126 s → 9 s at 500k vectors / 500 cells).
    * `below` keeps only the vectors with vec_id < it (a query set)
    * through a Column filter BEFORE the normalising map, so the parquet
    * scan pushes it and the rest of the corpus is never normalised. */
  private def unitVecs(spark: SparkSession, sfDir: String,
                       below: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val v = vecs(spark, sfDir)
    below.fold(v)(n => v.filter(col("vec_id") < n))
      .select(col("vec_id"), col("v"), col("norm")).as[(Long, Seq[Double], Double)]
      .map { case (id, v, n) => (id, v.toArray.map(_ / n)) }
      .toDF("vec_id", "u")
  }

  /** [[ivfCentroids]] with cross-session persistence: in substrate mode
    * (SPARK_GRAFT_SUBSTRATE_DIR) the trained matrix is stored once per
    * (corpus, engine build) as RAW DOUBLE BITS — bit-exact round trip,
    * so every hash gate sees the same quantizer a fresh training run
    * would produce — and later sessions skip the Lloyd rounds entirely
    * (the last per-session cost in the substrate freeze after r13
    * persisted the three sinks). Trained once per corpus: the Lloyd
    * training is deterministic, so re-running it per query
    * (ann_cosine_ivf / _ivfpq / _ivfpq_rerank / Dedup.semDedup all
    * need the same model) only re-spent ~40% of each query's cost. */
  private[graft] def ivfCentroids(spark: SparkSession, sfDir: String): Array[Array[Double]] =
    Substrate.derived(spark, sfDir, Seq("embeddings"), "ivf_centroids") {
      val bytes = Substrate.persistedModel(spark, "graft_ivfcent_", sfDir) {
        val kernel = IvfKernel
        val m = lloyd(spark, unitVecs(spark, sfDir), derivedIvfCells, Dim,
          kernel.nearestCell, renorm = true)(0)
        val bb = java.nio.ByteBuffer.allocate(8 + m.map(8 + _.length * 8).sum)
        bb.putInt(m.length): Unit
        bb.putInt(if (m.isEmpty) 0 else m(0).length): Unit
        m.foreach { row =>
          bb.putInt(row.length): Unit
          bb.putInt(0): Unit
          row.foreach(d => bb.putLong(
            java.lang.Double.doubleToRawLongBits(d)): Unit)
        }
        bb.array()
      }
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val rows = bb.getInt; bb.getInt: Unit
      Array.fill(rows) {
        val len = bb.getInt; bb.getInt: Unit
        Array.fill(len)(java.lang.Double.longBitsToDouble(bb.getLong))
      }
    }

  /** The one Lloyd trainer behind every vector quantizer: the IVF coarse
    * quantizer ([[ivfCentroids]], one `Dim`-wide subspace, unit means)
    * and both PQ codebooks ([[pqCodebook]], [[pqResCodebook]]: `PqSub`
    * subspaces of `PqSubDim`, raw means). Over a (vec_id, x:
    * Array[Double]) frame it counts n, takes `k(n)` centroids per
    * subspace from the subvectors of the first k rows BY ORDER of vec_id
    * (not the predicate vec_id < k, which trains with fewer — possibly
    * zero — centroids on sparse ids), and runs [[LloydIters]] rounds over
    * a deterministic vec_id-stride sample of ~128 vectors per centroid
    * (training is O(128·k²), the standard production IVF/PQ build). Each
    * round broadcasts the model, assigns every sampled subvector with
    * `nearest` (ascending dot folds, strict first-wins ties), groups by
    * (subspace, centroid) and collects ≤ nSub·k rows of model state; an
    * empty centroid keeps its previous value. The input is cached only
    * for these eager jobs and released before returning. Returns the
    * nSub × k × subDim model. */
  private def lloyd(spark: SparkSession, in: DataFrame, k: Long => Int, subDim: Int,
                    nearest: (Array[Array[Double]], Array[Double]) => Int,
                    renorm: Boolean): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val nSub = Dim / subDim
    val vs = in.cache()
    try {
      val n = vs.count()
      val nK = k(n)
      val step = math.max(1L, n / (nK.toLong * 128L))
      val train = vs.filter(col("vec_id") % step === 0).as[(Long, Array[Double])]
      val init = vs.orderBy(col("vec_id")).limit(nK)
        .as[(Long, Array[Double])].collect().map(_._2)
      assert(init.length == math.min(nK.toLong, n),
        s"Lloyd init collected ${init.length} rows, expected min($nK, $n)")
      val cent = Array.tabulate(nSub)(m => init.map(_.slice(m * subDim, (m + 1) * subDim)))
      for (_ <- 1 to LloydIters) {
        val bc = spark.sparkContext.broadcast(cent)
        val next = train
          .flatMap { case (_, x) =>
            (0 until nSub).map { m =>
              val xm = x.slice(m * subDim, (m + 1) * subDim)
              (m * nK + nearest(bc.value(m), xm), xm)
            }
          }
          .groupByKey(_._1)
          .mapGroups { (mk, it) =>
            // Integerised (nanos) accumulation: long sums are fold-order-
            // free, so a mean is a pure function of the member MULTISET (a
            // raw double sum would follow shuffle fetch order). The DuckDB
            // replays (ivfChainAfterE, pqChain) repeat it bit for bit.
            val sq = new Array[Long](subDim); var cnt = 0L
            it.foreach { case (_, xm) =>
              var i = 0
              while (i < subDim) { sq(i) += math.floor(xm(i) * 1e9 + 0.5).toLong; i += 1 }
              cnt += 1
            }
            val mu = sq.map(_.toDouble / 1e9 / cnt)
            val norm = if (renorm) math.sqrt(mu.foldLeft(0.0)((a, d) => a + d * d)) else 0.0
            (mk, if (norm > 0) mu.map(_ / norm) else mu)
          }.collect()
        next.foreach { case (mk, mu) => cent(mk / nK)(mk % nK) = mu }
        bc.destroy()
      }
      cent
    } finally { vs.unpersist(); () }
  }

  /** Exact nearest-cell assignment of EVERY vector (vec_id, cell) under
    * the memoized coarse quantizer — the `fin` CTE of the SQL chain.
    * Shared by [[ivfCandidates]], [[graft.queries.Dedup.semDedup]]
    * (SemDeDup's clustering stage IS the IVF coarse quantizer), the
    * decontamination gates, and [[ingestDrift]].
    *
    * PERSISTED once per session as a write-once BUCKETED sink (the kNN
    * edge-sink pattern, r12 verdict #1): without it every consumer
    * re-paid the corpus assignment pass (encoder scan + cells·dim dots
    * per vector — 16.7 s at 200k vectors, hours at 100 TB); with it the
    * first consumer writes (vec_id, cell) bucketed on vec_id and every
    * later consumer — same query or a different one in the session —
    * gets a FileSourceScan whose HashPartitioning(vec_id, 32) also
    * deletes this side's exchange from every vec_id equi-join (the
    * eval-side substrate build in Curation joins it to vecs + the split
    * table). Cold/warm A/B in PERF.md (`decont_substrate_ab`). */
  private[queries] def ivfAssigned(spark: SparkSession, sfDir: String): DataFrame =
    Substrate.materialize(spark, "graft_ivfasg_", sfDir,
      Substrate.Bucketed(32, "vec_id"))(
      ivfAssignedLive(spark, sfDir))

  /** Expression-level nearest-cell argmin over the trained centroids —
    * the whole-stage-codegen twin of [[IvfKernel.nearestCell]]
    * ([[graft.functions.NearestCell]]), for placing INCOMING rows (live
    * gates) without a Dataset-encoder round trip. Bit-identical to the
    * kernel fed `v.map(_ / norm)`: same elementwise division, same
    * ascending multiply-accumulate, same strict-`>` first-wins scan (an
    * all-zero vector NaN-floods every score on both paths and keeps
    * cell 0); empty centroid set (empty corpus) keeps best = 0. */
  private[queries] def cellArgminCol(cents: Array[Array[Double]],
                                     v: Column, norm: Column): Column =
    graft.functions.NearestCell.nearest_cell(cents, v, norm)

  /** The live assignment pass behind [[ivfAssigned]]'s sink. */
  private def ivfAssignedLive(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val kernel = IvfKernel
    val bc = spark.sparkContext.broadcast(ivfCentroids(spark, sfDir))
    unitVecs(spark, sfDir).as[(Long, Array[Double])]
      .map { case (id, u) => (id, kernel.nearestCell(bc.value, u)) }
      .toDF("vec_id", "cell")
  }

  /** The coarse-quantizer front half of [[annCosineIvf]], extracted so
    * [[annCosineIvfPq]] can reuse the identical candidate stream: trains
    * the spherical k-means centroids, assigns every vector, probes each
    * query's nProbe nearest cells, and returns the DISTINCT (qid, vec_id)
    * candidate pairs. Cost and distribution contract as documented on
    * [[annCosineIvf]]. */
  private[queries] def ivfCandidates(spark: SparkSession, sfDir: String,
                                     nProbe: Int): DataFrame = {
    require(nProbe > 0 && nProbe <= IvfMinCells,
      s"nProbe must be in 1..$IvfMinCells, got $nProbe")
    // each query probes its nProbe nearest cells
    val probes = rankedProbes(spark, sfDir, nProbe).select("qid", "cell")
    ivfAssigned(spark, sfDir).join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
  }

  /** Each query's `n` nearest IVF cells by centroid score, as
    * (qid, cell, rk) with rk = 1 for the best cell; ties break on the
    * lower cell id. The |Q|-sized probe list behind [[ivfCandidates]] and
    * [[ivfNprobeCurve]]. */
  private def rankedProbes(spark: SparkSession, sfDir: String,
                           n: Int): DataFrame = {
    import spark.implicits._
    val kernel = IvfKernel
    val bc = spark.sparkContext.broadcast(ivfCentroids(spark, sfDir))
    unitVecs(spark, sfDir, Some(NumQueries)).as[(Long, Array[Double])]
      .flatMap { case (qid, u) =>
        kernel.topCells(bc.value, u, n)
          .zipWithIndex.map { case ((c, _), r) => (qid, c, r + 1) }
      }.toDF("qid", "cell", "rk")
  }

  /** Multiprobe IVF — [[annCosineIvf]] at [[NProbeMp]] probes: the
    * `ann_cosine_lsh_mp` move applied to the cell geometry. Each query
    * scans its 8 nearest cells instead of 4; candidate recall rises
    * toward exact while corpus-side cost (assignment, storage,
    * partitioning) is IDENTICAL — only the |Q|-sized probe list and the
    * candidate stream grow ~2×. SimilaritySpec pins recall ≥ the
    * single-probe path's and ≥ 0.95 at the fixture; ScaleProbe carries
    * the nprobe-×-query-side cost evidence. */
  def annCosineIvfMp(spark: SparkSession, sfDir: String): DataFrame =
    annCosineIvf(spark, sfDir, nProbe = NProbeMp)

  /** The nprobe sweep evaluated by [[ivfNprobeCurve]] — shared verbatim
    * with the oracle's `nps` CTE; max must stay ≤ [[IvfMinCells]]. */
  private val NprobeCurvePoints = Seq(1, 2, 4, 8)

  /** IVF NPROBE RECALL CURVE: candidate recall@[[TopK]] vs the exact
    * brute-force top-k at nprobe ∈ [[NprobeCurvePoints]] — the tuning
    * table an operator reads before picking `nprobe` for a corpus ("2
    * probes buy 0.86, 8 buy 0.98 — serve at 4"). This is the measured
    * companion to [[ivfModularity]]: that readout shows WHERE the cell
    * boundaries sever neighborhoods, this one prices how many probes
    * buy the leak back. recall = |candidates ∩ exact top-k| summed over
    * the query set, over |Q|·k (the matryoshka_recall denominator
    * convention).
    *
    * Scale shape (r14 fused form): one exact pass (|Q| queries
    * broadcast — the [[bruteForceTopK]] plan) plus ONE ranked probe
    * enumeration at the curve max and ONE assignment join — a vector
    * lives in exactly one cell, so cand(np) ≡ {probe rank ≤ np} and
    * the per-np sets are rank PREFIXES of the max-np candidate stream
    * (previously |curve| separate [[ivfCandidates]] enumerations each
    * re-scanned the assignment sink). Per-np hits come from one
    * conditional aggregate (the CLAUDE.md grid rule: conditional agg +
    * explode, never crossJoin(grid) upstream); np points with zero
    * hits drop out exactly as the old groupBy form dropped them.
    * Corpus-side work is nprobe-independent — exactly the property the
    * curve exists to demonstrate. */
  def ivfNprobeCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val probes = rankedProbes(spark, sfDir, NprobeCurvePoints.max)
    val cand = ivfAssigned(spark, sfDir).join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id", "rk")
    val exact = bruteForceTopK(spark, sfDir).select(col("qid"), col("vec_id"))
    val hitCols = NprobeCurvePoints.map(np =>
      count(when(col("rk") <= np, 1)).as(s"h$np"))
    val hitRow = cand.join(exact, Seq("qid", "vec_id"))
      .agg(hitCols.head, hitCols.tail: _*)
    hitRow.select(explode(array(NprobeCurvePoints.map(np =>
        struct(lit(np).as("nprobe"), col(s"h$np").as("hits"))): _*)).as("s"))
      .select(col("s.nprobe").as("nprobe"), col("s.hits").as("hits"),
        Det.r(col("s.hits").cast("double") / (NumQueries * TopK), 6)
          .as("recall"))
      .filter(col("hits") > 0)
      .orderBy("nprobe")
  }

  /** DuckDB twin — one probe ranking at the curve max, per-np candidate
    * sets sliced by rank, the [[bruteForceTopKSql]] exact tail. */
  lazy val ivfNprobeCurveSql: String =
    s"""WITH ${ivfChain(1)},
       |finm AS MATERIALIZED (SELECT vec_id, cell FROM fin),
       |nps AS (SELECT unnest([${NprobeCurvePoints.mkString(", ")}]) AS np),
       |prall AS MATERIALIZED (
       |  SELECT qid, cell, rk
       |  FROM (SELECT v.vec_id AS qid, c.cell,
       |               row_number() OVER (PARTITION BY v.vec_id
       |                  ORDER BY list_dot_product(c.c, v.u) DESC, c.cell ASC) AS rk
       |        FROM uv v CROSS JOIN cent$LloydIters c WHERE v.vec_id < $NumQueries)
       |  WHERE rk <= ${NprobeCurvePoints.max}),
       |candn AS (
       |  SELECT DISTINCT n.np, p.qid, f.vec_id
       |  FROM nps n JOIN prall p ON p.rk <= n.np
       |  JOIN finm f ON f.cell = p.cell
       |  WHERE f.vec_id <> p.qid),
       |ex AS (
       |  SELECT qid, vec_id
       |  FROM (SELECT q.vec_id AS qid, a.vec_id,
       |               row_number() OVER (PARTITION BY q.vec_id
       |                  ORDER BY list_dot_product(a.v, q.v) / (a.norm * q.norm) DESC,
       |                           a.vec_id ASC) AS rank
       |        FROM nv a JOIN nv q ON a.vec_id <> q.vec_id
       |        WHERE q.vec_id < $NumQueries)
       |  WHERE rank <= $TopK),
       |ov AS (SELECT c.np, count(*) AS hits
       |       FROM candn c JOIN ex USING (qid, vec_id) GROUP BY 1)
       |SELECT np AS nprobe, hits,
       |       ${Det.rSql(s"CAST(hits AS DOUBLE) / ${NumQueries * TopK}", 6)} AS recall
       |FROM ov ORDER BY nprobe""".stripMargin

  private val ClusterSampleAlpha = 0.5
  private val ClusterSampleBudget = 200L

  /** CLUSTER-BALANCED SAMPLE — the data-mixing draw the IVF substrate
    * makes free (r10 verdict #6): a deterministic per-cell quota sample
    * over the memoized coarse-quantizer cells, quota ∝ cell_mass^α.
    * α = 1 reproduces proportional sampling; α → 0 flattens toward
    * equal-per-cell — the [[graft.queries.TextAnalysis.mixtureWeights]]
    * temperature move applied to SEMANTIC cells instead of source tags,
    * which is how a curation pipeline upsamples rare topical regions
    * (the cells [[ivfModularity]] shows are real neighborhoods) without
    * an explicit taxonomy.
    *
    * Mechanics, all exact-integer cross-engine: per-cell mass share is
    * a BIGINT ratio; share^α is micro-integerised before the
    * normalizing sum (the mixture_weights discipline — pow_total ≥ 1
    * whenever the corpus is nonempty since share ≥ 1/total and cells ≤
    * 2¹⁶ keep share^α·10⁶ ≥ 1); quota = min(mass, max(1,
    * (budget·pow_micros) div pow_total)) — positive operands, so Spark
    * DIV ≡ DuckDB //. Within a cell, members rank by the md5-derived
    * hash of vec_id (vec_id tie-break) and the quota prefix is kept —
    * the bottom-k-sketch uniform-sample idiom, re-ingestion-stable.
    *
    * Scale shape: the assignment is the memoized one-broadcast-pass
    * frame shared with [[annCosineIvf]]/semdedup; mass/quota are
    * |cells| ≤ 2¹⁶ rows (broadcast), and both totals ride
    * [[Hist.withTotals]] over them — at 100 TB the per-cell count stays
    * distributed, and at most the cap's worth of rows meets in one task;
    * the only corpus-sized work is one row_number window PARTITIONED BY
    * cell (per-task sort bounded by cell occupancy ~√n — the semdedup
    * family's within-cell cost), and the output is ~budget rows. Nothing
    * pair-shaped anywhere. */
  def clusterBalancedSample(spark: SparkSession, sfDir: String,
                            alpha: Double = ClusterSampleAlpha): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"need 0 < alpha <= 1, got $alpha")
    val assigned = ivfAssigned(spark, sfDir)
    val mass = assigned.groupBy("cell").agg(count(lit(1)).as("cell_mass"))
    val shared = Hist.withTotals(mass, "cluster_balanced_sample",
        sum("cell_mass").as("total"))
      .withColumn("pow_micros",
        floor(pow(col("cell_mass").cast("double") / col("total"), alpha)
          * 1e6 + 0.5).cast("long"))
    val quota = Hist.withTotals(shared, "cluster_balanced_sample",
        sum("pow_micros").as("pow_total"))
      .select(col("cell"), col("cell_mass"),
        least(col("cell_mass"),
          greatest(lit(1L),
            expr(s"($ClusterSampleBudget * pow_micros) DIV pow_total")))
          .as("quota"))
    val h = conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy("cell").orderBy(col("h").asc, col("vec_id").asc)
    assigned.withColumn("h", h)
      .withColumn("rk", row_number().over(w))
      .join(broadcast(quota), "cell")
      .filter(col("rk") <= col("quota"))
      .select(col("vec_id"), col("cell"), col("cell_mass"), col("quota"))
      .orderBy("vec_id")
  }

  /** Arg-templated twin — [[ivfChainSql]]'s exact assignment (`fin`) +
    * the identical integerised quota arithmetic and md5-prefix draw. */
  def clusterBalancedSampleSqlFor(alpha: Double): String =
    s"""WITH $ivfChainSql,
       |cbs_mass AS (SELECT cell, count(*) AS cell_mass FROM fin GROUP BY 1),
       |cbs_tot AS (SELECT CAST(sum(cell_mass) AS BIGINT) AS total FROM cbs_mass),
       |cbs_sh AS (SELECT cell, cell_mass,
       |                  CAST(floor(pow(CAST(cell_mass AS DOUBLE) / total, $alpha)
       |                             * 1e6 + 0.5) AS BIGINT) AS pow_micros
       |           FROM cbs_mass CROSS JOIN cbs_tot),
       |cbs_pt AS (SELECT CAST(sum(pow_micros) AS BIGINT) AS pow_total FROM cbs_sh),
       |cbs_qt AS (SELECT cell, cell_mass,
       |                  least(cell_mass,
       |                        greatest(1, ($ClusterSampleBudget * pow_micros) // pow_total)) AS quota
       |           FROM cbs_sh CROSS JOIN cbs_pt),
       |cbs_rk AS (SELECT vec_id, cell,
       |                  row_number() OVER (PARTITION BY cell
       |                    ORDER BY CAST(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
       |                                       AS UBIGINT) AS BIGINT) ASC,
       |                             vec_id ASC) AS rk
       |           FROM fin)
       |SELECT r.vec_id, r.cell, q.cell_mass, q.quota
       |FROM cbs_rk r JOIN cbs_qt q ON q.cell = r.cell
       |WHERE r.rk <= q.quota
       |ORDER BY r.vec_id""".stripMargin

  /** The IVF twins' [[exactRerank]]: [[ivfChain]]'s `cand` against its
    * norm table `nv`, through the final SELECT. */
  private val ivfScoredSql: String =
    s"""scored AS (
       |  SELECT c.qid, c.vec_id,
       |         list_dot_product(a.v, q.v) / (a.norm * q.norm) AS cosine_raw,
       |         row_number() OVER (PARTITION BY c.qid
       |            ORDER BY list_dot_product(a.v, q.v) / (a.norm * q.norm) DESC,
       |                     c.vec_id ASC) AS rank
       |  FROM cand c JOIN nv a ON c.vec_id = a.vec_id
       |              JOIN nv q ON c.qid = q.vec_id)
       |SELECT qid, rank, vec_id,
       |       CAST(floor(cosine_raw * 10000 + 0.5) AS DOUBLE) / 10000 AS cosine
       |FROM scored WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin

  /** DuckDB twin of [[annCosineIvfMp]] — the [[ivfChain]] at
    * [[NProbeMp]], same scoring tail as [[annCosineIvfSql]]. */
  val annCosineIvfMpSql: String =
    s"""WITH ${ivfChain(NProbeMp)},
       |$ivfScoredSql""".stripMargin

  /** IVF ANN: deterministic spherical k-means coarse quantizer (init =
    * unit vectors of the first `cells` vec_ids, `LloydIters` = 3 Lloyd
    * iterations, ties to the lowest cell), then per-query search probes
    * the NProbe nearest cells and exact-re-ranks only their members —
    * the classic FAISS IVF topology. `cells` = [[derivedIvfCells]](n).
    *
    * Distribution contract: vectors never leave the cluster; each Lloyd
    * iteration is one distributed assign+reduce, and only the k centroid
    * rows (k×64 doubles — model state, not data) come back to the driver
    * to be re-broadcast via a real `sparkContext.broadcast` (NOT the task
    * closure — at the 65536-cell cap the model is 33 MB, which torrent
    * broadcast ships once per executor instead of once per task). Lloyd
    * trains on a deterministic ~128-per-cell sample (O(cells²) work);
    * the final assignment is one exact O(n·cells) pass. At 100 TB: same
    * loop, √n cells; per-query search cost = cells + nProbe·n/cells
    * ≈ O(√n), not O(n).
    * Fully value-oracled ([[annCosineIvfSql]]) since round 6: the loop
    * is deterministic arithmetic end-to-end once centroid accumulation
    * is integerised. SimilaritySpec additionally bounds recall@5 against
    * the brute-force baseline and ScaleProbe re-measures it at ≥100×. */
  def annCosineIvf(spark: SparkSession, sfDir: String,
                   nProbe: Int = NProbe): DataFrame = {
    exactRerank(spark, sfDir, ivfCandidates(spark, sfDir, nProbe), TopK)
  }

  /** The shared IVF DuckDB chain (through the DISTINCT (qid, vec_id)
    * candidate set `cand`) — prefixes [[annCosineIvfSql]],
    * [[annCosineIvfPqSql]] and (at [[NProbeMp]]) the multiprobe twins.
    * Parameterized on nProbe: the only nProbe-dependent CTE is the
    * query-side probe list `pro`, exactly mirroring [[ivfCandidates]]. */
  private[queries] def ivfChain(nProbe: Int): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${ivfChainAfterE(nProbe)}""".stripMargin

  /** [[ivfChain]] minus its leading `e` CTE — for oracles that compose
    * the IVF chain with [[knnEdgeCtesSql]], whose LSH prefix already
    * defines the identical `e` (duplicate CTE names are illegal in one
    * WITH). */
  private[queries] def ivfChainAfterE(nProbe: Int): String = {
    val rounds = (1 to LloydIters).map { r =>
      s"""asn$r AS (
         |  SELECT vec_id, q, cell
         |  FROM (SELECT t.vec_id, t.q, c.cell,
         |               row_number() OVER (PARTITION BY t.vec_id
         |                  ORDER BY list_dot_product(c.c, t.u) DESC, c.cell ASC) AS rk
         |        FROM tr t CROSS JOIN cent${r - 1} c)
         |  WHERE rk = 1),
         |upd$r AS (
         |  SELECT cell, list(CAST(sq AS DOUBLE) / 1e9 / cnt ORDER BY i) AS m
         |  FROM (SELECT cell, i, CAST(sum(q[CAST(i AS INT)]) AS BIGINT) AS sq,
         |               count(*) AS cnt
         |        FROM asn$r CROSS JOIN range(1, ${Dim + 1}) r(i)
         |        GROUP BY cell, i)
         |  GROUP BY cell),
         |cent$r AS MATERIALIZED (
         |  SELECT c0.cell,
         |         COALESCE(CASE WHEN sqrt(list_dot_product(u.m, u.m)) > 0
         |                       THEN list_transform(u.m, x -> x / sqrt(list_dot_product(u.m, u.m)))
         |                       ELSE u.m END, c0.c) AS c
         |  FROM cent${r - 1} c0 LEFT JOIN upd$r u USING (cell))""".stripMargin
    }.mkString(",\n")
    s"""nv AS MATERIALIZED (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
       |uv AS MATERIALIZED (SELECT vec_id, list_transform(v, x -> x / norm) AS u FROM nv),
       |par AS (
       |  SELECT count(*) AS n,
       |         least(CAST($IvfCellsCap AS BIGINT),
       |               greatest(CAST($IvfMinCells AS BIGINT),
       |                        CAST(floor(sqrt(count(*) / 2.0) + 0.5) AS BIGINT))) AS cells
       |  FROM uv),
       |par2 AS (SELECT n, cells, greatest(1, n // (cells * 128)) AS step FROM par),
       |cent0 AS MATERIALIZED (
       |  SELECT CAST(rn - 1 AS INT) AS cell, u AS c
       |  FROM (SELECT u, row_number() OVER (ORDER BY vec_id) AS rn FROM uv)
       |  WHERE rn <= (SELECT cells FROM par2)),
       |tr AS MATERIALIZED (
       |  SELECT vec_id, u,
       |         list_transform(u, x -> CAST(floor(x * 1e9 + 0.5) AS BIGINT)) AS q
       |  FROM uv WHERE vec_id % (SELECT step FROM par2) = 0),
       |$rounds,
       |fin AS (
       |  SELECT vec_id, cell
       |  FROM (SELECT v.vec_id, c.cell,
       |               row_number() OVER (PARTITION BY v.vec_id
       |                  ORDER BY list_dot_product(c.c, v.u) DESC, c.cell ASC) AS rk
       |        FROM uv v CROSS JOIN cent$LloydIters c)
       |  WHERE rk = 1),
       |pro AS (
       |  SELECT qid, cell
       |  FROM (SELECT v.vec_id AS qid, c.cell,
       |               row_number() OVER (PARTITION BY v.vec_id
       |                  ORDER BY list_dot_product(c.c, v.u) DESC, c.cell ASC) AS rk
       |        FROM uv v CROSS JOIN cent$LloydIters c WHERE v.vec_id < $NumQueries)
       |  WHERE rk <= $nProbe),
       |cand AS (
       |  SELECT DISTINCT p.qid, f.vec_id
       |  FROM fin f JOIN pro p ON f.cell = p.cell
       |  WHERE f.vec_id <> p.qid)""".stripMargin
  }

  /** The default-[[NProbe]] chain (kept as a val — [[graft.queries.Dedup.semDedupSql]]
    * composes with its `fin`/`nv` CTEs, which are nProbe-independent). */
  private[queries] val ivfChainSql: String = ivfChain(NProbe)

  /** DuckDB twin of [[annCosineIvf]] — the bpe_train move applied to
    * Lloyd: the `LloydIters` k-means rounds unroll as a MATERIALIZED-CTE
    * chain (asn/upd/cent per round). Bit-exactness rests on three facts:
    * (1) every dot product on both engines is the same ascending 64-term
    * IEEE fold (JIT'd loop ↔ `list_dot_product`), so assignment scores
    * and tie-breaks (score DESC, cell ASC ≡ strict `>` first-wins)
    * agree; (2) centroid accumulation is integerised to nanos before the
    * sum — order-free on both engines — and the mean/renormalise ops
    * replay the Scala op order exactly (each IEEE op exactly rounded);
    * (3) `cells` and the training stride derive from `count(*)` with the
    * same floor/round/integer-division semantics as [[derivedIvfCells]],
    * so the SQL is valid at ANY corpus size, not just the fixture's.
    * Cells that lose all training members keep their previous centroid
    * (LEFT JOIN + COALESCE ≡ the in-place array update). */
  val annCosineIvfSql: String =
    s"""WITH $ivfChainSql,
       |$ivfScoredSql""".stripMargin

  // --------------------------------------------------------------------
  // Embedding quantization (int8 storage path)
  // --------------------------------------------------------------------

  /** Symmetric int8 quantization of the embedding column — the standard
    * 4× storage/bandwidth reduction for ANN at scale (a 100 TB float32
    * embedding store becomes 25 TB with ~0.4% max per-element error).
    * Per vector: scale = max|x_i|, q_i = ⌊x_i/scale·127 + 0.5⌋ ∈
    * [−127, 127]; emitted stats are exact-by-construction cross-engine:
    * scale (a max over exactly-widened floats), sum_q (integer sum,
    * order-independent), n_sat (count of saturated cells), and the max
    * absolute dequantization error in pure IEEE double math (identical
    * inputs → identical doubles; see [[Det]] for the ⌊x+0.5⌋ rationale
    * vs round()).
    *
    * Per-row kernel, zero shuffles before the final ORDER BY — scales
    * linearly and would run as a streaming map at any corpus size. */
  def embeddingQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val q = col("q")
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .filter(col("scale") > 0)
      .withColumn("q",
        transform(col("v"), x => floor(x / col("scale") * 127 + 0.5).cast("long")))
      .select(col("vec_id"), col("scale"),
        aggregate(q, lit(0L), (acc, x) => acc + x).as("sum_q"),
        size(filter(q, x => abs(x) === 127)).as("n_sat"),
        Det.r(array_max(zip_with(col("v"), q,
          (x, qi) => abs(x - qi * col("scale") / 127))), 6).as("max_err"))
      .orderBy("vec_id")
  }

  val embeddingQuantizeSql: String =
    s"""WITH v AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |s AS (SELECT vec_id, v,
       |             list_max(list_transform(v, x -> abs(x))) AS scale
       |      FROM v WHERE list_max(list_transform(v, x -> abs(x))) > 0),
       |q AS (SELECT vec_id, v, scale,
       |             list_transform(v, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT)) AS q
       |      FROM s)
       |SELECT vec_id, scale,
       |       CAST(list_sum(q) AS BIGINT) AS sum_q,
       |       CAST(len(list_filter(q, x -> abs(x) = 127)) AS INT) AS n_sat,
       |       ${Det.rSql(
              "list_max(list_transform(range(1, len(v) + 1), " +
                "i -> abs(v[i] - q[i] * scale / 127)))", 6)} AS max_err
       |FROM q ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------------
  // Johnson-Lindenstrauss sign random projection
  // --------------------------------------------------------------------

  private val RpInDims = 64
  private val RpOutDims = 16

  /** signs(j)(i) ∈ {−1, +1} from md5("i_j") parity — a pure function of
    * the indices, reproduced verbatim by the SQL twin (first-8-hex-of-md5
    * construction, the repo's portable-hash family). Code-constant model
    * state: 16×64 longs, built in microseconds on the driver, shipped in
    * the task closure as literals. */
  private def rpSigns(inDims: Int, outDims: Int): Array[Array[Long]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDims, inDims) { (j, i) =>
      val h = mdt.digest(s"${i}_$j".getBytes("UTF-8"))
      val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      1L - 2L * (v % 2)
    }
  }

  /** Sign random projection (Achlioptas 2003's database-friendly JL
    * transform): project each 64-dim embedding onto [[RpOutDims]] ±1
    * hyperplanes — the 4× dimensionality reduction that preserves
    * pairwise distances within 1±ε and is the standard PREFILTER before
    * expensive downstream search (project, shortlist in the cheap space,
    * re-rank in the full space — the same refine shape as
    * [[annCosinePqRerank]]).
    *
    * Scale: a stateless per-row kernel — the projection matrix is
    * code-constant (md5 parity of the indices, no training pass, no
    * broadcast), each row costs outDims·inDims integer multiply-adds
    * inside whole-stage codegen, and NOTHING shuffles before the
    * presentation sort. At 100 TB this runs at parquet-scan speed.
    *
    * Determinism: components integerise to micros BEFORE the dot product
    * (⌊x·10⁶+0.5⌋, float→double widening is exact), so out_micros is an
    * exact integer fold — hash-identical on any engine and any fold
    * order. */
  def embeddingRp(spark: SparkSession, sfDir: String,
                  outDims: Int = RpOutDims): DataFrame = {
    require(outDims > 0, s"outDims must be positive, got $outDims")
    val signs = rpSigns(RpInDims, outDims)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(size(col("v")) === RpInDims)
      .withColumn("q",
        transform(col("v"), x => floor(x * 1e6 + 0.5).cast("long")))
      .select(col("vec_id"), posexplode(array((0 until outDims).map { j =>
        aggregate(zip_with(col("q"), typedLit(signs(j).toSeq),
          (a, s) => a * s), lit(0L), (acc, x) => acc + x)
      }: _*)).as(Seq("dim", "out_micros")))
      .orderBy("vec_id", "dim")
  }

  /** DuckDB twin of [[embeddingRp]] — rebuilds the sign matrix from the
    * same md5-parity construction, proving the JVM-vs-SQL md5 agreement
    * as part of the hash gate. */
  val embeddingRpSql: String =
    s"""WITH m AS (
       |  SELECT i, j,
       |         1 - 2 * (CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % 2) AS s
       |  FROM range($RpInDims) r1(i), range($RpOutDims) r2(j)),
       |q AS (SELECT vec_id, i,
       |             CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q
       |      FROM (SELECT vec_id, unnest(embedding) AS x,
       |                   unnest(range(len(embedding))) AS i
       |            FROM embeddings WHERE len(embedding) = $RpInDims)),
       |g AS (SELECT vec_id, j, CAST(sum(q * s) AS BIGINT) AS out_micros
       |      FROM q JOIN m USING (i) GROUP BY vec_id, j)
       |SELECT vec_id, CAST(j AS INT) AS dim, out_micros
       |FROM g ORDER BY vec_id, dim""".stripMargin

  // --------------------------------------------------------------------
  // Per-dimension embedding health check
  // --------------------------------------------------------------------

  /** Per-DIMENSION moments of the embedding store — the collapsed-
    * dimension health check an embedding pipeline alarms on (a dim whose
    * std ≈ 0 carries no information: dead encoder unit, or a pipeline
    * writing constants; a shifted mean flags normalization drift).
    * Emits (dim, n, mean, std, min_x, max_x) for each of the 64 dims.
    *
    * Determinism: components are integerized to micros
    * (⌊x·10⁶ + 0.5⌋ — exact, |x| < 0.5 so no overflow) BEFORE summing;
    * Σq and Σq² (decimal — q² sums overflow long at 10¹² rows, the
    * stats_agg lesson) are order-independent integer folds; the variance
    * numerator n·Σq² − (Σq)² is guarded pre-sqrt (NaN > 0 is TRUE under
    * Spark's total ordering — the events_zscore lesson); min/max over
    * exactly-widened floats are order-free. One explode (64 rows per
    * vector, column-pruned scan) + one 64-group agg with map-side
    * combine; output is 64 rows at any corpus size. */
  def embeddingDimStats(spark: SparkSession, sfDir: String): DataFrame = {
    val varNum = col("scc").cast("double") * col("n") -
      col("sc").cast("double") * col("sc")
    Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .select(col("dim"), col("x"),
        floor(col("x") * 1000000 + 0.5).cast("long").as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("q").as("sc"),
        sum(col("q").cast("decimal(38,0)") * col("q")).as("scc"),
        min("x").as("mn"), max("x").as("mx"))
      .select(col("dim"), col("n"),
        Det.r(col("sc").cast("double") / col("n") / 1000000, 6).as("mean"),
        // 0.0, not NULL, for a zero-variance dim — the collapsed-dim
        // condition IS the alarm this query exists to raise, and a NULL
        // would silently pass a `std < eps` monitor; the guard clamps
        // tiny negative double-rounding artifacts to the same 0.0
        Det.r(when(varNum > 0,
          sqrt(varNum / (col("n").cast("double") * col("n"))) / 1000000)
          .otherwise(lit(0.0)), 6).as("std"),
        Det.r(col("mn"), 6).as("min_x"), Det.r(col("mx"), 6).as("max_x"))
      .orderBy("dim")
  }

  /** DuckDB twin — 1-based list index becomes the 0-based dim. */
  val embeddingDimStatsSql: String =
    s"""WITH x AS (
       |  SELECT CAST(i - 1 AS INT) AS dim,
       |         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
       |q AS (SELECT dim, x, CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS q FROM x),
       |m AS (SELECT dim, count(*) AS n, sum(q) AS sc,
       |             sum(CAST(q AS DECIMAL(38,0)) * q) AS scc,
       |             min(x) AS mn, max(x) AS mx
       |      FROM q GROUP BY dim)
       |SELECT dim, n,
       |       ${Det.rSql("CAST(sc AS DOUBLE) / n / 1000000", 6)} AS mean,
       |       ${Det.rSql(
            "CASE WHEN CAST(scc AS DOUBLE) * n - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) > 0 " +
            "THEN sqrt((CAST(scc AS DOUBLE) * n - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) / (CAST(n AS DOUBLE) * n)) / 1000000 " +
            "ELSE 0.0 END", 6)} AS std,
       |       ${Det.rSql("mn", 6)} AS min_x,
       |       ${Det.rSql("mx", 6)} AS max_x
       |FROM m ORDER BY dim""".stripMargin

  // --------------------------------------------------------------------
  // Quantized (int8) exact top-k
  // --------------------------------------------------------------------

  /** Top-k cosine over the int8-QUANTIZED vectors — the search half of
    * the [[embeddingQuantize]] storage path: at 100 TB the index reads
    * 4× fewer bytes and the dot products run over 8-bit lanes (SIMD
    * int8 µkernels on a real deployment; here the point is the Spark
    * plumbing and the accuracy contract, which SimilaritySpec pins as
    * recall@5 vs the float baseline).
    *
    * Fully oracle-able, unlike LSH/IVF: quantized components are small
    * INTEGERS, so every dot product and squared norm is integer-exact in
    * double arithmetic REGARDLESS of fold order (products ≤ 127², sums
    * ≤ 64·127² ≪ 2⁵³) — the one place a cosine needs no fold-order
    * discipline. Ranking ties break on vec_id. */
  def quantizedTopK(spark: SparkSession, sfDir: String, k: Int = TopK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val q8 = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .filter(col("scale") > 0)
      .select(col("vec_id"),
        transform(col("v"), x => floor(x / col("scale") * 127 + 0.5))
          .cast("array<double>").as("q"))
      .withColumn("qnorm", sqrt(dot(col("q"), col("q"))))
    val qs = q8.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("q").as("a"), col("qnorm").as("anorm"))
    val w = Window.partitionBy("qid")
      .orderBy(col("qcos_raw").desc, col("vec_id").asc)
    q8.join(broadcast(qs), col("vec_id") =!= col("qid"))
      .withColumn("qcos_raw", dot(col("q"), col("a")) / (col("qnorm") * col("anorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"),
        Det.r(col("qcos_raw"), 4).as("qcosine"))
      .orderBy("qid", "rank")
  }

  val quantizedTopKSql: String =
    s"""WITH v AS (SELECT vec_id,
       |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |s AS (SELECT vec_id, v,
       |             list_max(list_transform(v, x -> abs(x))) AS scale FROM v),
       |z AS (SELECT vec_id,
       |             list_transform(v, x -> floor(x / scale * 127 + 0.5)) AS q
       |      FROM s WHERE scale > 0),
       |n AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS qnorm FROM z),
       |qq AS (SELECT vec_id AS qid, q AS a, qnorm AS anorm
       |       FROM n WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT qid, vec_id,
       |         list_dot_product(q, a) / (qnorm * anorm) AS c,
       |         row_number() OVER (PARTITION BY qid
       |            ORDER BY list_dot_product(q, a) / (qnorm * anorm) DESC,
       |                     vec_id ASC) AS rank
       |  FROM n JOIN qq ON vec_id <> qid)
       |SELECT qid, rank, vec_id,
       |       CAST(floor(c * 10000 + 0.5) AS DOUBLE) / 10000 AS qcosine
       |FROM scored WHERE rank <= $TopK
       |ORDER BY qid, rank""".stripMargin

  // --------------------------------------------------------------------
  // Per-label centroids (class prototypes)
  // --------------------------------------------------------------------

  /** Dimension-wise centroid of each label's embeddings — the class
    * prototype every embedding-space diagnostic starts from (nearest-
    * centroid baselines, per-class drift monitoring, [[annCosineIvf]]'s
    * coarse quantizer is exactly this computed over learned cells).
    *
    * Shape: posexplode → one grouped agg on (label, dim). The explode is
    * 64× the row count but narrow (three columns), and partial
    * aggregation folds it to |labels|·64 rows per task before the only
    * shuffle — at 100 TB this is a map-side-combined scan, not a 64×
    * shuffle.
    *
    * Determinism: each component is integerised to micros BEFORE the sum
    * (integer sums are fold-order-free; a double sum would depend on
    * Spark's partition order), making the centroid a pure function of
    * the multiset of inputs on both engines. */
  def embeddingCentroids(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")))
      .withColumn("x_micros", floor(col("col") * 1e6 + 0.5).cast("long"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n_vecs"), sum("x_micros").as("sum_micros"))
      .select(col("label"), col("pos"), col("n_vecs"),
        Det.r(col("sum_micros").cast("double") / 1e6 / col("n_vecs"), 6)
          .as("centroid"))
      .orderBy("label", "pos")

  /** Shared DuckDB CTE chain for the per-(label, dim) micros-integerised
    * centroid sums — the ONE definition both [[embeddingCentroidsSql]]
    * and [[centroidAssignSql]] build on, so the integerisation can never
    * drift between the prototype report and the assignment that uses it. */
  private val centroidSqlCtes: String =
    """cv AS (SELECT vec_id, label,
      |              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |       FROM embeddings),
      |cu AS (SELECT label, v, unnest(range(1, len(v) + 1)) AS i FROM cv),
      |cp AS (SELECT label, CAST(i - 1 AS INTEGER) AS pos,
      |              CAST(floor(v[CAST(i AS INT)] * 1e6 + 0.5) AS BIGINT) AS x_micros
      |       FROM cu),
      |cg AS (SELECT label, pos, count(*) AS n_vecs,
      |              CAST(sum(x_micros) AS BIGINT) AS sum_micros
      |       FROM cp GROUP BY 1, 2)""".stripMargin

  val embeddingCentroidsSql: String =
    s"""WITH $centroidSqlCtes
       |SELECT label, pos, n_vecs,
       |       ${Det.rSql("CAST(sum_micros AS DOUBLE) / 1e6 / n_vecs", 6)} AS centroid
       |FROM cg ORDER BY label, pos""".stripMargin

  /** EMBEDDING DRIFT: per label, the L2 distance between the label's
    * centroid and the global centroid — the model-monitoring readout
    * ("did source X's embeddings move away from the corpus center after
    * the encoder swap / data refresh"). Complements
    * [[embeddingCentroids]] (the raw prototypes) with the scalar a
    * monitor alerts on.
    *
    * Exactness: per-dim micros sums are exact ints; the centroid
    * difference sl/nl − sg/ng becomes the exact decimal numerator
    * num = sl·ng − sg·nl over the common denominator nl·ng, so
    * Σ_dims num² accumulates EXACTLY in decimal(38,0) (64 dims of
    * ~1e30 terms — order-free, no float summation across dims) and only
    * the final sqrt/divide runs in double, one identical IEEE path per
    * engine. Shape: one posexplode scan → (label, dim) grouped sums
    * (bounded |labels|·64 frame), global sums re-aggregated FROM that
    * frame (no second scan), bounded join + per-label agg. */
  def embeddingDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val perDim = Tables.embeddings(spark, sfDir)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")))
      .withColumn("q", floor(col("col") * 1e6 + 0.5).cast("long"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("nl"), sum("q").as("sl"))
    val global = perDim.groupBy("pos")
      .agg(sum("sl").as("sg"), sum("nl").as("ng"))
    perDim.join(global, "pos")
      .withColumn("num",
        col("sl").cast("decimal(38,0)") * col("ng") -
          col("sg").cast("decimal(38,0)") * col("nl"))
      .groupBy("label")
      .agg(max("nl").as("n_vecs"), // constant within a label
        sum(col("num") * col("num")).as("ssq"),
        max(col("nl").cast("decimal(38,0)") * col("ng")).as("den"))
      .select(col("label"), col("n_vecs"),
        Det.r(sqrt(col("ssq").cast("double")) /
          col("den").cast("double") / 1e6, 6).as("drift_l2"))
      .orderBy("label")
  }

  val embeddingDriftSql: String =
    s"""WITH $centroidSqlCtes,
       |gl AS (SELECT pos, CAST(sum(sum_micros) AS BIGINT) AS sg,
       |              CAST(sum(n_vecs) AS BIGINT) AS ng
       |       FROM cg GROUP BY 1),
       |dj AS (SELECT g.label, g.n_vecs AS nl,
       |              CAST(g.sum_micros AS DECIMAL(38,0)) * gl.ng
       |                - CAST(gl.sg AS DECIMAL(38,0)) * g.n_vecs AS num,
       |              CAST(g.n_vecs AS DECIMAL(38,0)) * gl.ng AS den
       |       FROM cg g JOIN gl USING (pos))
       |SELECT label, CAST(max(nl) AS BIGINT) AS n_vecs,
       |       ${Det.rSql(
        "sqrt(CAST(sum(num * num) AS DOUBLE)) / CAST(max(den) AS DOUBLE) / 1e6",
        6)} AS drift_l2
       |FROM dj GROUP BY label ORDER BY label""".stripMargin

  /** Nearest-centroid assignment + confusion matrix: every vector is
    * assigned to its closest label prototype (squared L2, expanded as
    * v·v − 2·v·c + c·c so each term is one deterministic sequential
    * fold), and the output counts (true_label, assigned_label) cells —
    * the zero-training classification baseline that says how separable
    * the label geometry is, and the evaluation readout for any
    * embedding model swap.
    *
    * Scale shape: the "model" is |labels|·64 doubles — a broadcast join
    * probe against a single scan of the corpus. The per-vector argmin is
    * min(struct(dist, label)) — an agg, NOT a ranking window: partial
    * aggregation collapses the |labels|-way fan-out back to one row per
    * vector map-side, so the shuffle carries n rows instead of sorting
    * n·|labels| (the struct's (dist, label) field order IS the
    * dist-then-label tie-break). Then a ≤|labels|² confusion agg. The
    * centroids reuse [[embeddingCentroids]]' micros-integerised exact
    * sums, so the whole pipeline stays hash-exact cross-engine. */
  def centroidAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val cent = embeddingCentroids(spark, sfDir)
      .groupBy(col("label").as("c_label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("centroid"))))
        .as("pc"))
      .select(col("c_label"),
        transform(col("pc"), s => s.getField("centroid")).as("c"))
      .withColumn("cc", dot(col("c"), col("c")))
    val vec = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").as("true_label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("vv", dot(col("v"), col("v")))
    vec.join(broadcast(cent))
      .withColumn("dist", col("vv") - lit(2) * dot(col("v"), col("c")) + col("cc"))
      .groupBy("vec_id", "true_label")
      .agg(min(struct(col("dist"), col("c_label"))).as("m"))
      .groupBy(col("true_label"), col("m.c_label").as("assigned_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_label", "assigned_label")
  }

  val centroidAssignSql: String =
    s"""WITH $centroidSqlCtes,
       |cent AS (SELECT label AS c_label,
       |                list(${Det.rSql("CAST(sum_micros AS DOUBLE) / 1e6 / n_vecs", 6)}
       |                     ORDER BY pos) AS c
       |         FROM cg GROUP BY label),
       |scored AS (
       |  SELECT vec_id, label AS true_label, c_label,
       |         list_dot_product(v, v) - 2 * list_dot_product(v, c)
       |           + list_dot_product(c, c) AS dist
       |  FROM cv CROSS JOIN cent),
       |best AS (
       |  SELECT vec_id, true_label, c_label,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY dist ASC, c_label ASC) AS rk
       |  FROM scored)
       |SELECT true_label, c_label AS assigned_label, count(*) AS n
       |FROM best WHERE rk = 1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val OutlierTopN = 10

  /** Per-label embedding outliers: the topN vectors FARTHEST (squared
    * L2) from their own label's centroid — the data-quality screen that
    * surfaces mislabeled, contaminated, or adversarial points before
    * they poison a training run (the complement of [[centroidAssign]]:
    * that asks "which label is nearest", this asks "how badly does the
    * point fit its own").
    *
    * Scale shape: the centroid "model" is |labels|·64 doubles
    * (broadcast); distances are one scan with three dot-product folds
    * per row; the ranking window partitions by label over topN-prunable
    * rows. Centroids reuse [[embeddingCentroids]]' micros-integerised
    * exact sums and 6-dp rounding, so the distance ranking is hash-exact
    * cross-engine (the same `vv − 2·v·c + cc` op order as
    * [[centroidAssign]], ties vec_id ASC). */
  def embeddingOutliers(spark: SparkSession, sfDir: String,
                        topN: Int = OutlierTopN): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    val cent = embeddingCentroids(spark, sfDir)
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("centroid"))))
        .as("pc"))
      .select(col("label"),
        transform(col("pc"), s => s.getField("centroid")).as("c"))
      .withColumn("cc", dot(col("c"), col("c")))
    val vec = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("vv", dot(col("v"), col("v")))
    val w = Window.partitionBy("label")
      .orderBy(col("dist_raw").desc, col("vec_id").asc)
    vec.join(broadcast(cent), "label")
      .withColumn("dist_raw",
        col("vv") - lit(2) * dot(col("v"), col("c")) + col("cc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("label"), col("rank"), col("vec_id"),
        Det.r(col("dist_raw"), 6).as("dist"))
      .orderBy("label", "rank")
  }

  val embeddingOutliersSql: String =
    s"""WITH $centroidSqlCtes,
       |cent AS (SELECT label,
       |                list(${Det.rSql("CAST(sum_micros AS DOUBLE) / 1e6 / n_vecs", 6)}
       |                     ORDER BY pos) AS c
       |         FROM cg GROUP BY label),
       |scored AS (
       |  SELECT v.vec_id, v.label,
       |         list_dot_product(v.v, v.v) - 2 * list_dot_product(v.v, t.c)
       |           + list_dot_product(t.c, t.c) AS dist_raw
       |  FROM cv v JOIN cent t ON t.label = v.label),
       |ranked AS (
       |  SELECT label, vec_id, dist_raw,
       |         row_number() OVER (PARTITION BY label
       |                            ORDER BY dist_raw DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT label, CAST(rank AS INT) AS rank, vec_id,
       |       ${Det.rSql("dist_raw", 6)} AS dist
       |FROM ranked WHERE rank <= $OutlierTopN
       |ORDER BY label, rank""".stripMargin

  // --------------------------------------------------------------------
  // Product quantization (the memory-bounded ANN storage path)
  // --------------------------------------------------------------------

  private val PqSub = 8      // subspaces (Dim / PqSubDim)
  private val PqSubDim = 8   // dims per subspace
  private val PqK = 256      // centroids per subspace → 8-bit codes (FAISS PQ8x8)

  /** The (vec_id, x: Array[Double]) frame the PQ trainer and
    * [[embeddingPq]] map over. */
  private def pqRaw(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    vecs(spark, sfDir)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
      .map { case (id, v) => (id, v.toArray) }
      .toDF("vec_id", "x")
  }

  /** Stateless holder for the PQ task-side kernels: closures reference
    * `PqKernel`, capturing this (empty, serializable) object instead of
    * the non-serializable Similarity$. A codebook `cb` is indexed
    * (subspace m)(code k) → the `subDim`-wide centroid. */
  private object PqKernel extends Serializable {
    /** Per-subspace nearest-centroid probe: (code, ‖c‖²−2·c·x) for the
      * subvector at `off` — the bit-identical score both the trainer and
      * every encoder rank by. */
    def nearest(cs: Array[Array[Double]], x: Array[Double], off: Int): (Int, Double) = {
      var best = 0; var bestS = Double.PositiveInfinity
      var k = 0
      while (k < cs.length) {
        val w = cs(k); var dotAcc = 0.0; var cc = 0.0; var i = 0
        while (i < w.length) {
          dotAcc += w(i) * x(off + i); cc += w(i) * w(i); i += 1
        }
        val s = cc - 2.0 * dotAcc
        if (s < bestS) { bestS = s; best = k }
        k += 1
      }
      (best, bestS)
    }

    /** A vector's code per subspace: [[nearest]] over each slice. */
    def encode(cb: Array[Array[Array[Double]]], x: Array[Double],
               subDim: Int): Array[Int] = {
      val codes = new Array[Int](cb.length); var m = 0
      while (m < cb.length) { codes(m) = nearest(cb(m), x, m * subDim)._1; m += 1 }
      codes
    }

    /** ⌊d·10⁶ + 0.5⌋ — every ADC term is integerised to micros before
      * it is summed, so the sums are fold-order-free. */
    def micros(d: Double): Long = math.floor(d * 1e6 + 0.5).toLong

    /** A query's ADC lookup table flattened at stride `nK`: entry
      * m·nK + k = [[micros]](q_m·c[m][k]), the ascending 8-term fold the
      * twins' `lut` CTE replays. Entries past a short codebook stay 0
      * and are never referenced. */
    def lut(cb: Array[Array[Array[Double]]], q: Array[Double],
            subDim: Int, nK: Int): Array[Long] = {
      val tab = new Array[Long](cb.length * nK); var m = 0
      while (m < cb.length) {
        var k = 0
        while (k < cb(m).length) {
          val w = cb(m)(k); var d = 0.0; var i = 0
          while (i < w.length) { d += w(i) * q(m * subDim + i); i += 1 }
          tab(m * nK + k) = micros(d); k += 1
        }
        m += 1
      }
      tab
    }
  }

  /** PQ codebook per corpus: ≤8·256·8 doubles of driver-side model state
    * shared by [[embeddingPq]] and [[annCosinePq]]. The training frame is
    * cached ONLY for the eager count/init/Lloyd phase inside the trainer
    * and released before returning — the queries' own lazy passes each
    * scan parquet once, so no corpus-sized cache outlives the model-state
    * construction (and on the memo-warm path nothing is cached at all). */
  private[graft] def pqCodebook(spark: SparkSession, sfDir: String): Array[Array[Array[Double]]] =
    Substrate.derived(spark, sfDir, Seq("embeddings"), "pq_codebook") {
      val kernel = PqKernel
      lloyd(spark, pqRaw(spark, sfDir), _ => PqK, PqSubDim,
        (cs, xm) => kernel.nearest(cs, xm, 0)._1, renorm = false)
    }

  /** Residual codebook for [[annCosineIvfPqRes]]: the same trainer over
    * unit-space coarse-quantizer residuals. */
  private[graft] def pqResCodebook(spark: SparkSession, sfDir: String): Array[Array[Array[Double]]] =
    Substrate.derived(spark, sfDir, Seq("embeddings"), "pq_res_codebook") {
      val kernel = PqKernel
      lloyd(spark, unitResiduals(spark, sfDir), _ => PqK, PqSubDim,
        (cs, xm) => kernel.nearest(cs, xm, 0)._1, renorm = false)
    }

  /** Unit-space coarse-quantizer residuals (vec_id, x = u − c_cell)
    * — the input both [[pqResCodebook]] trains on and
    * [[annCosineIvfPqRes]] encodes. One map over [[unitVecs]] with the
    * memoized centroids in a broadcast; the assignment is the same
    * [[IvfKernel.nearestCell]] the `fin` CTE replays, so cell and
    * residual are bit-identical to the oracle's. */
  private def unitResiduals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val kernel = IvfKernel
    val bc = spark.sparkContext.broadcast(ivfCentroids(spark, sfDir))
    unitVecs(spark, sfDir).as[(Long, Array[Double])]
      .map { case (id, u) =>
        val cs = bc.value
        val cell = kernel.nearestCell(cs, u)
        val c = cs(cell)
        val r = new Array[Double](u.length)
        var i = 0
        while (i < u.length) { r(i) = u(i) - c(i); i += 1 }
        (id, r)
      }.toDF("vec_id", "x")
  }

  /** Product quantization (Jégou et al., the FAISS `PQ8x8` topology):
    * split each 64-d vector into 8 contiguous 8-d subvectors, k-means
    * each subspace to 256 centroids, and encode every vector as 8
    * single-byte codes — 256 B of float32 becomes 8 B, the compression
    * that makes a 100 TB embedding store RAM-resident on a modest
    * cluster (vs [[embeddingQuantize]]'s 4× int8 path, this is 32×).
    * Emits per vector its 8 codes plus the L2² reconstruction error —
    * the quality readout that sizes K/M choices.
    *
    * Scale shape, mirroring [[annCosineIvf]]: training runs on a
    * deterministic vec_id-stride sample (~128 vectors per centroid), so
    * each Lloyd round is one distributed pass over sample×8 subvector
    * slices folding to ≤ 8·256 rows of integerised model state (the only
    * driver traffic); the final encode is one exact map over the corpus
    * with the 2048-centroid codebook (~128 KB) riding in a broadcast.
    * Nothing corpus-sized shuffles at any n.
    *
    * Determinism (the [[annCosineIvfSql]] contract, subspace-keyed):
    * assignment score = ‖c‖² − 2·c·x per subspace — three ascending
    * 8-term IEEE folds and two exactly-rounded ops, identical on both
    * engines, ties broken k-ASC (strict `<` first-wins); centroid
    * accumulation integerises members to nanos (order-free long sums,
    * mean replayed exactly); per-subspace errors integerise to micros
    * before the per-vector long sum, so the error is fold-order-free
    * too. Empty cells keep their previous centroid (COALESCE ≡ in-place
    * array update). */
  def embeddingPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nSub = PqSub; val subDim = PqSubDim
    val kernel = PqKernel
    // uncached: the encode is ONE lazy pass over parquet (the training
    // phase inside pqCodebook caches its own frame for its eager loop)
    val raw = pqRaw(spark, sfDir)
    val cent = pqCodebook(spark, sfDir)
    val bc = spark.sparkContext.broadcast(cent)
    raw.as[(Long, Array[Double])]
      .map { case (id, x) =>
        val codes = new Array[Int](nSub)
        var errU = 0L
        var m = 0
        while (m < nSub) {
          val (k, s) = kernel.nearest(bc.value(m), x, m * subDim)
          codes(m) = k
          var xx = 0.0; var i = m * subDim
          while (i < (m + 1) * subDim) { xx += x(i) * x(i); i += 1 }
          errU += math.floor((s + xx) * 1e6 + 0.5).toLong
          m += 1
        }
        (id, codes(0), codes(1), codes(2), codes(3),
          codes(4), codes(5), codes(6), codes(7), errU)
      }
      .toDF("vec_id", "code_0", "code_1", "code_2", "code_3",
        "code_4", "code_5", "code_6", "code_7", "err_u")
      .select(col("vec_id"),
        col("code_0"), col("code_1"), col("code_2"), col("code_3"),
        col("code_4"), col("code_5"), col("code_6"), col("code_7"),
        (col("err_u").cast("double") / 1e6).as("err"))
      .orderBy("vec_id")
  }

  /** The shared DuckDB PQ pipeline — [[annCosineIvfSql]]'s unrolled Lloyd
    * chain with a `m` (subspace) key threaded through every CTE, ending at
    * `enc` (per (vec_id, m): assigned code + micros-integerised L2² error).
    * Prefixes [[embeddingPqSql]] and [[annCosinePqSql]] (empty prefix) and
    * composes with [[ivfChainSql]] inside [[annCosineIvfPqSql]] (prefix
    * `p_` keeps the two chains' CTE names disjoint). */
  private def pqChain(p: String,
      src: String = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings")
      : String = {
    val score = "list_dot_product(c.c, c.c) - 2 * list_dot_product(c.c, %s)"
    val rounds = (1 to LloydIters).map { r =>
      s"""${p}asn$r AS (
         |  SELECT m, k, q FROM (
         |    SELECT t.m, c.k, t.q,
         |           row_number() OVER (PARTITION BY t.vec_id, t.m
         |              ORDER BY ${score.format("t.xm")} ASC, c.k ASC) AS rk
         |    FROM ${p}tr t JOIN ${p}cent${r - 1} c ON c.m = t.m)
         |  WHERE rk = 1),
         |${p}upd$r AS (
         |  SELECT m, k, list(CAST(sq AS DOUBLE) / 1e9 / cnt ORDER BY i) AS mu
         |  FROM (SELECT m, k, i, CAST(sum(q[CAST(i AS INT)]) AS BIGINT) AS sq,
         |               count(*) AS cnt
         |        FROM ${p}asn$r CROSS JOIN range(1, ${PqSubDim + 1}) r(i)
         |        GROUP BY m, k, i)
         |  GROUP BY m, k),
         |${p}cent$r AS MATERIALIZED (
         |  SELECT c0.m, c0.k, COALESCE(u.mu, c0.c) AS c
         |  FROM ${p}cent${r - 1} c0 LEFT JOIN ${p}upd$r u ON u.m = c0.m AND u.k = c0.k)"""
        .stripMargin
    }.mkString(",\n")
    s"""${p}e AS ($src),
       |${p}sub AS MATERIALIZED (
       |  SELECT vec_id, CAST(m AS INT) AS m,
       |         v[CAST(m * $PqSubDim + 1 AS INT):CAST((m + 1) * $PqSubDim AS INT)] AS xm
       |  FROM ${p}e CROSS JOIN range(0, $PqSub) r(m)),
       |${p}par AS (SELECT greatest(1, count(*) // ${PqK * 128}) AS step FROM ${p}e),
       |${p}cent0 AS MATERIALIZED (
       |  SELECT s.m, CAST(i.rn - 1 AS INT) AS k, s.xm AS c
       |  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM ${p}e) i
       |  JOIN ${p}sub s ON s.vec_id = i.vec_id
       |  WHERE i.rn <= $PqK),
       |${p}tr AS MATERIALIZED (
       |  SELECT vec_id, m, xm,
       |         list_transform(xm, x -> CAST(floor(x * 1e9 + 0.5) AS BIGINT)) AS q
       |  FROM ${p}sub WHERE vec_id % (SELECT step FROM ${p}par) = 0),
       |$rounds,
       |${p}enc AS MATERIALIZED (
       |  SELECT vec_id, m, k, err_u FROM (
       |    SELECT s.vec_id, s.m, c.k,
       |           CAST(floor((${score.format("s.xm")}
       |                       + list_dot_product(s.xm, s.xm)) * 1e6 + 0.5) AS BIGINT) AS err_u,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |              ORDER BY ${score.format("s.xm")} ASC, c.k ASC) AS rk
       |    FROM ${p}sub s JOIN ${p}cent$LloydIters c ON c.m = s.m)
       |  WHERE rk = 1)""".stripMargin
  }

  private val pqChainSql: String = pqChain("")

  /** DuckDB twin of [[embeddingPq]]. */
  val embeddingPqSql: String =
    s"""WITH $pqChainSql
       |SELECT vec_id,
       |       CAST(max(CASE WHEN m = 0 THEN k END) AS INT) AS code_0,
       |       CAST(max(CASE WHEN m = 1 THEN k END) AS INT) AS code_1,
       |       CAST(max(CASE WHEN m = 2 THEN k END) AS INT) AS code_2,
       |       CAST(max(CASE WHEN m = 3 THEN k END) AS INT) AS code_3,
       |       CAST(max(CASE WHEN m = 4 THEN k END) AS INT) AS code_4,
       |       CAST(max(CASE WHEN m = 5 THEN k END) AS INT) AS code_5,
       |       CAST(max(CASE WHEN m = 6 THEN k END) AS INT) AS code_6,
       |       CAST(max(CASE WHEN m = 7 THEN k END) AS INT) AS code_7,
       |       CAST(CAST(sum(err_u) AS BIGINT) AS DOUBLE) / 1e6 AS err
       |FROM enc GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** (qid, vec_id, score_u) → (qid, rank, vec_id, score_u), rank 1..k per
    * qid by (score_u DESC, vec_id ASC), via the native
    * [[graft.functions.TopKScores]] `TypedImperativeAggregate` — O(k)
    * primitive-array state per group, merged map-side, so the shuffle
    * carries ≤ k rows per (partition, qid) and no single task ever sees
    * more than its input split (the qid window it replaces held the
    * full scored stream of a query in one task). SET semantics: exact
    * (score, vec) duplicates are no-ops, which lets the kNN edge build
    * feed the raw multi-table bucket-join stream straight in — no
    * pair-cardinality distinct exchange, no per-row object ser/de (the
    * r12 stage probe's two dominant costs; the typed Dataset
    * `Aggregator` this replaced paid the encoder round-trip per row).
    * Ordering is total (score ties break vec_id ASC), so the emitted
    * ranks are exactly row_number's over DISTINCT pairs —
    * hash-identical output. */
  private def topKScored(spark: SparkSession, scored: DataFrame, k: Int): DataFrame = {
    scored
      .groupBy(col("qid"))
      .agg(graft.functions.TopKScores
        .topk_scores(col("score_u"), col("vec_id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "sv")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("sv.vec_id").as("vec_id"), col("sv.score_u").as("score_u"))
  }

  /** The ADC score `score_u` read out under `name`: micros back to a
    * double. */
  private def adcReadout(name: String): Column =
    (col("score_u").cast("double") / 1e6).as(name)

  /** The ADC result tail of [[annCosinePq]] and [[annCosineIvfPq]]: the
    * scored stream's [[topKScored]] ranks plus the exact cosine of each
    * result row. */
  private def adcTopK(spark: SparkSession, sfDir: String,
                      scored: DataFrame, k: Int): DataFrame =
    withPairVecs(spark, sfDir, topKScored(spark, scored, k))
      .select(col("qid"), col("rank"), col("vec_id"), adcReadout("adc_dot"),
        Det.r(dot(col("v"), col("qv")) / (col("norm") * col("qnorm")), 4).as("cosine"))
      .orderBy("qid", "rank")

  /** Per-query ADC lookup tables (qid, lut) of a query frame (qid, x),
    * built IN EXECUTORS: one map with the codebook in a broadcast, each
    * table [[PqKernel.lut]]'s 8×256 micros array (2 KB per query) — a
    * DataFrame column, never collected. */
  private def adcLuts(spark: SparkSession, queries: DataFrame,
                      cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val subDim = PqSubDim; val nK = PqK
    val kernel = PqKernel
    val bc = spark.sparkContext.broadcast(cb)
    queries.as[(Long, Array[Double])]
      .map { case (qid, q) => (qid, kernel.lut(bc.value, q, subDim, nK)) }
      .toDF("qid", "lut")
  }

  /** The code frame (vec_id, codes) of a vector frame (vec_id, x): one
    * [[PqKernel.encode]] map with the codebook in a broadcast. */
  private def pqCodes(spark: SparkSession, xs: DataFrame,
                      cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val subDim = PqSubDim
    val kernel = PqKernel
    val bc = spark.sparkContext.broadcast(cb)
    xs.as[(Long, Array[Double])]
      .map { case (id, x) => (id, kernel.encode(bc.value, x, subDim)) }
      .toDF("vec_id", "codes")
  }

  /** THE asymmetric-distance scorer of every PQ-coded ANN query: a
    * candidate frame (qid, vec_id) with an optional `off_u` coarse
    * offset, joined to its code frame ([[pqCodes]]) and LUT frame
    * ([[adcLuts]]) and projected IMMEDIATELY to narrow (qid, vec_id,
    * score_u) rows. score_u = off_u (or 0) + Σₘ lut[m·256 + codes[m]]:
    * 8 codegen `element_at` lookups over micros-integerised entries, so
    * the long sum is fold-order-free. The wide LUT array crosses one
    * exchange at most (its own |Q|-row frame) and leaves in the join's
    * projection — never a pair-cardinality shuffle (the r8 trap). No
    * |Q|-sized state touches the driver. */
  private def adcScored(cands: DataFrame, codes: DataFrame,
                        luts: DataFrame): DataFrame = {
    val nK = PqK
    val off = if (cands.columns.contains("off_u")) col("off_u") else lit(0L)
    val score = (0 until PqSub).foldLeft(off) { (acc, m) =>
      acc + element_at(col("lut"), lit(m * nK) + element_at(col("codes"), m + 1) + 1)
    }
    cands.join(codes, "vec_id").join(luts, "qid")
      .select(col("qid"), col("vec_id"), score.as("score_u"))
  }

  /** The raw-space ADC stream (qid, vec_id, score_u) of a candidate
    * frame: [[pqCodebook]] codes and query LUTs through [[adcScored]].
    * Shared by the PQ and IVF-PQ queries. */
  private def pqAdcScored(spark: SparkSession, sfDir: String,
                          cands: DataFrame): DataFrame = {
    val raw = vecs(spark, sfDir).select("vec_id", "v")
    val cb = pqCodebook(spark, sfDir)
    adcScored(cands, pqCodes(spark, raw, cb),
      adcLuts(spark, raw.filter(col("vec_id") < NumQueries), cb))
  }

  /** Every (query, corpus vector) pair but the query itself — the
    * full-scan candidate frame of [[annCosinePq]]: the corpus ids
    * crossed with the broadcast |Q| query ids. */
  private def allCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = vecs(spark, sfDir).select("vec_id")
    val qids = ids.filter(col("vec_id") < NumQueries).select(col("vec_id").as("qid"))
    ids.join(broadcast(qids), col("vec_id") =!= col("qid"))
  }

  /** PQ search by asymmetric distance computation (ADC): the query keeps
    * its full vector, every corpus vector is its 8 codes, and the
    * approximate dot product is 8 table lookups — q·x ≈ Σₘ q_m·c[code_m]
    * with the per-query lookup table (8×256 entries) built once against
    * the codebook. The read side of [[embeddingPq]]'s 64× compression:
    * a full-corpus scored scan that never touches the float vectors.
    *
    * Scale shape: the codebook ([[pqCodebook]], memoized) rides in a
    * broadcast; one pass encodes each vector into its 8 codes, the
    * per-query LUTs are built in executors, and [[adcScored]] scores
    * every (query, vector) pair; one shuffle ranks per query. |Q| is
    * bounded (the [[bruteForceTopK]] contract); at production scale the
    * candidate stream comes from an IVF coarse filter
    * ([[annCosineIvfPq]]) rather than the full scan, but the ADC
    * arithmetic is exactly this. Exact cosine is joined back for the
    * k·|Q| result rows only — the approximation-quality readout.
    *
    * Determinism: LUT entries integerise to micros (⌊·1e6+0.5⌋) before
    * the 8-term long sum — fold-order-free — and ranking ties break
    * vec_id ASC; the exact-cosine column reuses the [[bruteForceTopK]]
    * double fold. */
  def annCosinePq(spark: SparkSession, sfDir: String, k: Int = TopK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    adcTopK(spark, sfDir, pqAdcScored(spark, sfDir, allCandidates(spark, sfDir)), k)
  }

  /** How many ADC-ranked candidates the re-rank stage keeps per query,
    * as a multiple of k — the FAISS `refine` ratio. 8×k at k=5 keeps 40
    * candidates: comfortably above the measured ADC rank noise (exact
    * top-5 members sit within ADC top-~20 on this corpus) while the
    * re-rank still touches only |Q|·8k corpus vectors. */
  private val RerankFactor = 8

  /** The ADC re-rank tail: the scored stream's top-(RerankFactor·k)
    * shortlist by ADC score goes through [[exactRerank]], carrying the
    * ADC score as `readout`. */
  private def adcRerank(spark: SparkSession, sfDir: String, scored: DataFrame,
                        k: Int, readout: String): DataFrame =
    exactRerank(spark, sfDir,
      topKScored(spark, scored, k * RerankFactor).drop("rank"), k, adcReadout(readout))

  /** [[annCosinePq]] + an exact re-rank stage — the production PQ search
    * shape (FAISS `IVFPQ,Refine`): ADC shortlists top-(8k) per query
    * from codes alone, then ONLY those |Q|·8k candidate rows join back
    * to the float vectors for an exact-cosine re-rank; final rank is by
    * exact cosine. Lifts recall@5 from ADC's ~0.58 to ~1.0 at unchanged
    * scale shape — the corpus-sized pass still never touches floats,
    * and the re-rank input is O(|Q|·k), broadcast-join small.
    *
    * Determinism: the shortlist is [[topKScored]]'s total order
    * (micros-integerised ADC sums, ties vec_id ASC); the re-rank orders
    * by the same raw-double cosine as [[bruteForceTopK]] (identical
    * fold on both engines), ties vec_id ASC. */
  def annCosinePqRerank(spark: SparkSession, sfDir: String, k: Int = TopK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    adcRerank(spark, sfDir, pqAdcScored(spark, sfDir, allCandidates(spark, sfDir)),
      k, "adc_dot")
  }

  /** Shared DuckDB fragment: [[pqChainSql]]'s `enc` joined against the
    * per-query LUT into the ADC-ranked stream (`ranked`) + the norm
    * table `nv` — prefixes [[annCosinePqSql]] and
    * [[annCosinePqRerankSql]]. */
  private val pqAdcRankedSql: String =
    s"""qs AS (SELECT vec_id AS qid, m, xm AS qm FROM sub WHERE vec_id < $NumQueries),
       |lut AS MATERIALIZED (
       |  SELECT q.qid, c.m, c.k,
       |         CAST(floor(list_dot_product(q.qm, c.c) * 1e6 + 0.5) AS BIGINT) AS du
       |  FROM qs q JOIN cent$LloydIters c ON c.m = q.m),
       |scored AS (
       |  SELECT l.qid, e.vec_id, CAST(sum(l.du) AS BIGINT) AS score_u
       |  FROM enc e JOIN lut l ON l.m = e.m AND l.k = e.k
       |  WHERE e.vec_id <> l.qid
       |  GROUP BY l.qid, e.vec_id),
       |ranked AS (
       |  SELECT qid, vec_id, score_u,
       |         row_number() OVER (PARTITION BY qid
       |            ORDER BY score_u DESC, vec_id ASC) AS rank
       |  FROM scored),
       |nv AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e)""".stripMargin

  /** The ADC twins' final SELECT ([[adcTopK]]): the `ranked` stream's
    * top-k with the exact cosine read out from `nv`. */
  private val adcSelectSql: String =
    s"""SELECT r.qid, CAST(r.rank AS INT) AS rank, r.vec_id,
       |       CAST(r.score_u AS DOUBLE) / 1e6 AS adc_dot,
       |       CAST(floor(list_dot_product(a.v, q.v) / (a.norm * q.norm) * 10000 + 0.5)
       |            AS DOUBLE) / 10000 AS cosine
       |FROM ranked r
       |JOIN nv a ON a.vec_id = r.vec_id
       |JOIN nv q ON q.vec_id = r.qid
       |WHERE r.rank <= $TopK
       |ORDER BY qid, rank""".stripMargin

  /** The ADC re-rank twins' [[adcRerank]]: the `ranked` shortlist
    * re-ranked by exact cosine (`rr`), through the final SELECT. */
  private val adcRerankSql: String =
    s"""rr AS (
       |  SELECT r.qid, r.vec_id, r.score_u,
       |         list_dot_product(a.v, q.v) / (a.norm * q.norm) AS cosine_raw,
       |         row_number() OVER (PARTITION BY r.qid
       |            ORDER BY list_dot_product(a.v, q.v) / (a.norm * q.norm) DESC,
       |                     r.vec_id ASC) AS rank
       |  FROM ranked r
       |  JOIN nv a ON a.vec_id = r.vec_id
       |  JOIN nv q ON q.vec_id = r.qid
       |  WHERE r.rank <= ${TopK * RerankFactor})
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id,
       |       CAST(score_u AS DOUBLE) / 1e6 AS adc_dot,
       |       CAST(floor(cosine_raw * 10000 + 0.5) AS DOUBLE) / 10000 AS cosine
       |FROM rr
       |WHERE rank <= $TopK
       |ORDER BY qid, rank""".stripMargin

  /** DuckDB twin of [[annCosinePq]] — the shared [[pqChainSql]] plus the
    * LUT join replayed relationally. */
  val annCosinePqSql: String =
    s"""WITH $pqChainSql,
       |$pqAdcRankedSql
       |$adcSelectSql""".stripMargin

  /** DuckDB twin of [[annCosinePqRerank]] — ADC shortlist to 8k, exact
    * cosine over the shortlist only, re-rank by cosine. */
  val annCosinePqRerankSql: String =
    s"""WITH $pqChainSql,
       |$pqAdcRankedSql,
       |$adcRerankSql""".stripMargin

  /** IVF-PQ — the production ANN composition (FAISS `IVF,PQ8x8`):
    * [[ivfCandidates]] prunes the corpus to each query's nProbe coarse
    * cells (O(nProbe·n/cells) candidates ≈ O(√n) at derived cell
    * counts), then [[annCosinePq]]'s asymmetric-distance scoring ranks
    * ONLY those candidates from their 8-byte codes — at 100 TB neither
    * a full scored scan (ann_cosine_pq) nor a float re-rank of the
    * candidate set (ann_cosine_ivf) touches the corpus floats; the
    * search state is the coarse centroids + the PQ codebook + 8 B per
    * vector. Exact cosine joins back for the k·|Q| result rows only.
    * Determinism: candidate set is [[annCosineIvf]]'s (hash-gated),
    * scoring is [[annCosinePq]]'s micros-integerised LUT sums, ties
    * vec_id ASC — every stage already proven hash-exact, composed. */
  def annCosineIvfPq(spark: SparkSession, sfDir: String,
                     nProbe: Int = NProbe): DataFrame =
    adcTopK(spark, sfDir, pqAdcScored(spark, sfDir, ivfCandidates(spark, sfDir, nProbe)),
      TopK)

  /** [[annCosineIvfPq]] + the exact re-rank stage — the full production
    * composition (FAISS `IVF…,PQ8x8,Refine`): coarse cells prune the
    * corpus, ADC ranks candidates from 8-byte codes, the top-8k per
    * query re-rank against their float vectors, final rank by exact
    * cosine. Recall is bounded by the coarse quantizer's candidate
    * recall (the PQ ranking noise inside the candidate set is fully
    * recovered) — which is why this composition runs MULTIPROBE
    * ([[NProbeMp]] = 8 cells/query, the r8 0.85-candidate-recall ceiling
    * lifted the standard FAISS way): the extra cost is |Q|·nProbe
    * query-side scans only, while the recall pin rises 0.8 → ≥ 0.9.
    * At 100 TB the floats are fetched for |Q|·8k rows only.
    * Determinism: composed from three hash-exact stages, ties vec_id
    * ASC at both ranks. */
  def annCosineIvfPqRerank(spark: SparkSession, sfDir: String,
                           nProbe: Int = NProbeMp): DataFrame =
    adcRerank(spark, sfDir, pqAdcScored(spark, sfDir, ivfCandidates(spark, sfDir, nProbe)),
      TopK, "adc_dot")

  /** Shared DuckDB fragment: [[ivfChainSql]]'s `cand` scored through the
    * `p_`-prefixed PQ chain into the candidate-restricted ADC-ranked
    * stream — prefixes [[annCosineIvfPqSql]] and
    * [[annCosineIvfPqRerankSql]]. (`nv` comes from [[ivfChainSql]].) */
  private val ivfPqAdcRankedSql: String =
    s"""qs AS (SELECT vec_id AS qid, m, xm AS qm FROM p_sub WHERE vec_id < $NumQueries),
       |lut AS MATERIALIZED (
       |  SELECT q.qid, c.m, c.k,
       |         CAST(floor(list_dot_product(q.qm, c.c) * 1e6 + 0.5) AS BIGINT) AS du
       |  FROM qs q JOIN p_cent$LloydIters c ON c.m = q.m),
       |adc AS (
       |  SELECT cd.qid, cd.vec_id, CAST(sum(l.du) AS BIGINT) AS score_u
       |  FROM cand cd
       |  JOIN p_enc en ON en.vec_id = cd.vec_id
       |  JOIN lut l ON l.qid = cd.qid AND l.m = en.m AND l.k = en.k
       |  GROUP BY cd.qid, cd.vec_id),
       |ranked AS (
       |  SELECT qid, vec_id, score_u,
       |         row_number() OVER (PARTITION BY qid
       |            ORDER BY score_u DESC, vec_id ASC) AS rank
       |  FROM adc)""".stripMargin

  /** DuckDB twin of [[annCosineIvfPq]] — [[ivfChainSql]] through `cand`,
    * the `p_`-prefixed PQ chain, and the candidate-restricted ADC join. */
  val annCosineIvfPqSql: String =
    s"""WITH $ivfChainSql,
       |${pqChain("p_")},
       |$ivfPqAdcRankedSql
       |$adcSelectSql""".stripMargin

  /** DuckDB twin of [[annCosineIvfPqRerank]] — [[ivfChain]] at the
    * multiprobe [[NProbeMp]]. */
  val annCosineIvfPqRerankSql: String =
    s"""WITH ${ivfChain(NProbeMp)},
       |${pqChain("p_")},
       |$ivfPqAdcRankedSql,
       |$adcRerankSql""".stripMargin

  /** RESIDUAL IVF-PQ with exact re-rank — FAISS's actual `IVFx,PQ8`
    * memory layout (IVFADC, Jégou et al. 2011 §IV-A): PQ encodes the
    * coarse-quantizer RESIDUAL u − c_cell, not the vector itself.
    * Residuals concentrate around the origin with the coarse-explained
    * variance removed, so the same 8×256 codebook spends its capacity
    * on what the cell assignment didn't already encode. How much that
    * buys tracks how much structure the coarse quantizer captures: on
    * the fixture's ISOTROPIC random vectors 16 cells explain almost no
    * variance, so the measured ADC error edge over the raw-space path
    * is real but small (0.0449 vs 0.0455 mean |est − cosine| —
    * SimilaritySpec pins residual ≤ raw and the ≤ 0.05 band, plus
    * recall ≥ 0.9, measured 0.96); on clustered production embeddings
    * the residual radius shrinks with the cell radius and the gap
    * widens — the reason FAISS defaults to residual encoding.
    * Everything runs in UNIT space end to end, so the ADC score
    * directly estimates the cosine: u_q·u = u_q·c_cell + u_q·r ≈
    * off(q, cell) + Σₘ LUT_q[m][code_m].
    *
    * Scale shape = [[annCosineIvfPqRerank]]: candidates from the
    * multiprobe coarse quantizer, ADC from 8-byte codes plus the coarse
    * offset, floats fetched for the |Q|·8k shortlist only. This is
    * [[annCosineIvfPqBatch]] at the fixture's [[NumQueries]] queries —
    * one builder serves both registry names.
    * Determinism: off/LUT entries integerise to micros before the
    * order-free long sum; the encode replays the oracle's `r_enc` CTE
    * (same ‖c‖²−2c·x fold, ties k-ASC); residuals are exact IEEE
    * subtractions of hash-proven inputs (uv, cent, fin all oracle-
    * shared with ann_cosine_ivf). */
  def annCosineIvfPqRes(spark: SparkSession, sfDir: String,
                        nProbe: Int = NProbeMp): DataFrame =
    annCosineIvfPqBatch(spark, sfDir, nProbe, NumQueries)

  /** BATCH-RETRIEVAL IVF-PQ — [[annCosineIvfPqRes]] over the first
    * `nQueries` vectors as queries, with NO |Q|-scaled structure on the
    * driver:
    *
    *  - per-query 8×256 LUTs are built IN EXECUTORS ([[adcLuts]]) —
    *    2 KB per query, shuffled once on qid, never collected;
    *  - per-(query, probed-cell) coarse offsets ride the probe rows as
    *    `off_u` — they are the SAME dots the probe selection already
    *    computes, so no |Q|·cells offset table exists anywhere;
    *  - [[adcScored]] joins codes and LUTs onto the candidates and
    *    projects to narrow (qid, vec_id, score_u) rows in the join
    *    output itself.
    *
    * Driver state is O(codebook + centroids) — independent of |Q| and
    * n. The one |Q|-proportional transfer left is the (qid, cell,
    * off_u) probe broadcast, 24 B/query·nprobe (at |Q|=100k ≈ 20 MB;
    * past broadcast range it becomes a shuffle join on cell — the
    * documented switch). ScaleProbe's `ann_batch_bulk` point runs
    * |Q| = 100k queries through this path. */
  def annCosineIvfPqBatch(spark: SparkSession, sfDir: String,
                          nProbe: Int = NProbeMp,
                          nQueries: Long = NumQueries): DataFrame = {
    require(nProbe > 0 && nProbe <= IvfMinCells,
      s"nProbe must be in 1..$IvfMinCells, got $nProbe")
    require(nQueries > 0, s"nQueries must be positive, got $nQueries")
    import spark.implicits._
    val kernel = PqKernel
    val ivf = IvfKernel
    val bcCent = spark.sparkContext.broadcast(ivfCentroids(spark, sfDir))
    val cb = pqResCodebook(spark, sfDir)
    val qframe = unitVecs(spark, sfDir, Some(nQueries)).as[(Long, Array[Double])]
    // probe rows carry the coarse offset: the identical centroid score
    // the probe ranking itself computes — exactly ivfCandidates' order
    val probes = qframe.flatMap { case (qid, u) =>
      ivf.topCells(bcCent.value, u, nProbe)
        .map { case (c, s) => (qid, c, kernel.micros(s)) }
    }.toDF("qid", "cell", "off_u")
    val cands = ivfAssigned(spark, sfDir)
      .join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id", "off_u")
    val scored = adcScored(cands, pqCodes(spark, unitResiduals(spark, sfDir), cb),
      adcLuts(spark, qframe.toDF(), cb))
    adcRerank(spark, sfDir, scored, TopK, "adc_cos")
  }

  /** DuckDB twin of [[annCosineIvfPqRes]] — [[ivfChain]] at [[NProbeMp]],
    * the `r_`-prefixed [[pqChain]] re-rooted on the residual source, and
    * the offset+LUT ADC with the exact re-rank tail. */
  val annCosineIvfPqResSql: String = {
    val resSrc =
      s"""SELECT u.vec_id,
         |       list_transform(range(1, ${Dim + 1}), i -> u.u[i] - c.c[i]) AS v
         |  FROM uv u JOIN fin f ON f.vec_id = u.vec_id
         |            JOIN cent$LloydIters c ON c.cell = f.cell""".stripMargin
    s"""WITH ${ivfChain(NProbeMp)},
       |${pqChain("r_", resSrc)},
       |r_qs AS (
       |  SELECT vec_id AS qid, CAST(m AS INT) AS m,
       |         u[CAST(m * $PqSubDim + 1 AS INT):CAST((m + 1) * $PqSubDim AS INT)] AS qm
       |  FROM uv CROSS JOIN range(0, $PqSub) r(m)
       |  WHERE vec_id < $NumQueries),
       |r_lut AS MATERIALIZED (
       |  SELECT q.qid, c.m, c.k,
       |         CAST(floor(list_dot_product(q.qm, c.c) * 1e6 + 0.5) AS BIGINT) AS du
       |  FROM r_qs q JOIN r_cent$LloydIters c ON c.m = q.m),
       |r_off AS MATERIALIZED (
       |  SELECT u.vec_id AS qid, c.cell,
       |         CAST(floor(list_dot_product(u.u, c.c) * 1e6 + 0.5) AS BIGINT) AS ou
       |  FROM uv u CROSS JOIN cent$LloydIters c
       |  WHERE u.vec_id < $NumQueries),
       |r_adc AS (
       |  SELECT cd.qid, cd.vec_id, CAST(o.ou + sum(l.du) AS BIGINT) AS score_u
       |  FROM cand cd
       |  JOIN fin f ON f.vec_id = cd.vec_id
       |  JOIN r_enc en ON en.vec_id = cd.vec_id
       |  JOIN r_lut l ON l.qid = cd.qid AND l.m = en.m AND l.k = en.k
       |  JOIN r_off o ON o.qid = cd.qid AND o.cell = f.cell
       |  GROUP BY cd.qid, cd.vec_id, o.ou),
       |r_ranked AS (
       |  SELECT qid, vec_id, score_u,
       |         row_number() OVER (PARTITION BY qid
       |            ORDER BY score_u DESC, vec_id ASC) AS rank
       |  FROM r_adc),
       |r_rr AS (
       |  SELECT r.qid, r.vec_id, r.score_u,
       |         list_dot_product(a.v, q.v) / (a.norm * q.norm) AS cosine_raw,
       |         row_number() OVER (PARTITION BY r.qid
       |            ORDER BY list_dot_product(a.v, q.v) / (a.norm * q.norm) DESC,
       |                     r.vec_id ASC) AS rank
       |  FROM r_ranked r
       |  JOIN nv a ON a.vec_id = r.vec_id
       |  JOIN nv q ON q.vec_id = r.qid
       |  WHERE r.rank <= ${TopK * RerankFactor})
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id,
       |       CAST(score_u AS DOUBLE) / 1e6 AS adc_cos,
       |       CAST(floor(cosine_raw * 10000 + 0.5) AS DOUBLE) / 10000 AS cosine
       |FROM r_rr WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin
  }

  /** PCA prefix width and power-iteration round count. 16 dims is the
    * matryoshka prefix the recall curve already prices. K=8 is a FIXED
    * estimate depth, not a convergence guarantee: power iteration
    * contracts as (λ₂/λ₁)^K, and the synthetic fixture's prefix
    * spectrum is deliberately near-flat (λ₂/λ₁ ≈ 0.97 — measured
    * 20 937 / 20 183 at sf0.001), so the ITERATE keeps rotating while
    * the Rayleigh estimate is already within 1.5 % of λ₁ by round 8.
    * On the operator's real target — detecting a DOMINANT component,
    * i.e. a wide eigengap — K=8 converges outright. The spec pins the
    * honest invariants instead of fixture convergence: Rayleigh
    * monotone in K, λ ≥ every per-dim variance, share ∈ (1/P, 1]. */
  private val PcaP = 16
  private val PcaRounds = 8

  /** TOP PRINCIPAL COMPONENT of the 16-dim embedding prefix — the
    * dimensionality/anisotropy readout an embedding pipeline checks
    * before whitening or pruning dims (a dominant component means the
    * space wastes capacity on one direction; var_share quantifies it).
    *
    * Numerics are the repo's exact-integer discipline end to end:
    * components quantize to micro ints, the covariance numerator
    * n·Σxy − Σx·Σy accumulates in DECIMAL(38,0) (exact — the float
    * Σxy of 10¹⁰ rows is not), and each matrix entry micro-rounds
    * through one fixed-parenthesization double division. Power
    * iteration then runs on the 16×16 integer matrix — 256 longs of
    * MODEL STATE (the PQ-codebook precedent): Spark folds it on the
    * driver, the oracle unrolls the identical recurrence as
    * MATERIALIZED per-round CTEs (the pagerank discipline), each
    * round re-normalizing by max|w| to 1e6 with the same ⌊x+0.5⌋.
    * λ is the Rayleigh quotient over the final vector (DECIMAL
    * accumulation again), var_share = λ/trace.
    *
    * Scale: the only corpus-sized work is the two explode-aggregates
    * (16·n and 256·n narrow rows, map-side combined); everything
    * after is 256 rows. At 100 TB this is one scan + two shuffles of
    * 256 keys — the driver never sees more than the matrix. */
  def embeddingPcaTop(spark: SparkSession, sfDir: String,
                      rounds: Int = PcaRounds): DataFrame = {
    import spark.implicits._
    val pref = Tables.embeddings(spark, sfDir)
      .select(transform(
        slice(col("embedding").cast("array<double>"), 1, PcaP),
        x => floor(x * 1000000 + 0.5).cast("long")).as("v"))
    val sums = pref.select(posexplode(col("v")).as(Seq("i", "qi")))
      .groupBy("i")
      .agg(count(lit(1)).as("n"), sum("qi").as("s"))
    val pairs = pref
      .select(posexplode(col("v")).as(Seq("i", "qi")), col("v"))
      .select(col("i"), col("qi"), posexplode(col("v")).as(Seq("j", "qj")))
      .groupBy("i", "j")
      .agg(sum(col("qi").cast("decimal(38,0)") * col("qj")).as("spp"))
    val cov = pairs
      .join(sums.withColumnRenamed("s", "si"), Seq("i"))
      .join(sums.select(col("i").as("j"), col("s").as("sj")), Seq("j"))
      .select(col("i").cast("int"), col("j").cast("int"),
        floor((col("n") * col("spp") -
          col("si").cast("decimal(38,0)") * col("sj")).cast("double") /
          (col("n").cast("double") * col("n") * 1e6) + 0.5)
          .cast("long").as("c"))
    // ≤ PcaP² = 256 narrow rows by construction — bounded model state,
    // the PQ-codebook collect discipline
    val covRows = cov.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    if (covRows.isEmpty)
      return Seq.empty[(Int, Long, java.lang.Double, java.lang.Double)]
        .toDF("dim", "v_micro", "lambda", "var_share")
    // power iteration — the exact Long/IEEE recurrence the oracle's
    // unrolled CTEs replay: w = C·v; v' = ⌊w·1e6/max|w|+0.5⌋
    var v = Array.fill(PcaP)(1000000L)
    for (_ <- 1 to rounds) {
      val w = Array.tabulate(PcaP) { i =>
        var acc = 0L
        var j = 0
        while (j < PcaP) { acc += covRows((i, j)) * v(j); j += 1 }
        acc
      }
      val m = w.map(math.abs).max
      v = if (m > 0)
        w.map(wi => math.floor(wi.toDouble * 1e6 / m + 0.5).toLong)
      else w
    }
    val num = (0 until PcaP).flatMap(i => (0 until PcaP).map(j =>
      BigInt(v(i) * covRows((i, j))) * v(j))).sum
    val den = v.map(x => x * x).sum
    val trc = (0 until PcaP).map(i => covRows((i, i))).sum
    def detR(x: Double, scale: Int): Double = {
      val p = math.pow(10, scale)
      math.floor(x * p + 0.5) / p
    }
    val lambda: java.lang.Double =
      if (den > 0) detR(num.toDouble / den / 1e6, 8) else null
    val share: java.lang.Double =
      if (den > 0 && trc > 0) detR(num.toDouble / den / trc, 6) else null
    (0 until PcaP).map(i => (i, v(i), lambda, share))
      .toDF("dim", "v_micro", "lambda", "var_share")
      .orderBy("dim")
  }

  /** DuckDB twin — identical quantization, DECIMAL covariance, and the
    * recurrence unrolled as MATERIALIZED per-round CTEs (plain CTEs
    * would be re-inlined per reference — the 2^rounds-scan trap). */
  val embeddingPcaTopSql: String = {
    val rounds = (1 to PcaRounds).map { r =>
      val pv = if (r == 1) "v0" else s"v${r - 1}"
      s"""r$r AS MATERIALIZED (
         |  SELECT c.i, CAST(sum(c.c * p.v) AS BIGINT) AS w
         |  FROM cov c JOIN $pv p ON c.j = p.i GROUP BY 1),
         |m$r AS MATERIALIZED (SELECT max(abs(w)) AS m FROM r$r),
         |v$r AS MATERIALIZED (
         |  SELECT i, CASE WHEN m.m > 0
         |                 THEN CAST(floor(CAST(w AS DOUBLE) * 1e6 / m.m
         |                                 + 0.5) AS BIGINT)
         |                 ELSE w END AS v
         |  FROM r$r, m$r m)""".stripMargin
    }.mkString(",\n")
    val vf = s"v$PcaRounds"
    s"""WITH pref AS MATERIALIZED (
       |  SELECT list_transform(embedding[1:$PcaP],
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
       |                     AS BIGINT)) AS v
       |  FROM embeddings),
       |dims AS (SELECT unnest(range(0, $PcaP)) AS d),
       |si AS (SELECT d.d AS i, count(*) AS n,
       |              CAST(sum(v[CAST(d.d + 1 AS INTEGER)]) AS BIGINT) AS s
       |       FROM pref CROSS JOIN dims d GROUP BY 1),
       |spp AS (SELECT a.d AS i, b.d AS j,
       |               sum(CAST(v[CAST(a.d + 1 AS INTEGER)] AS DECIMAL(38,0))
       |                   * v[CAST(b.d + 1 AS INTEGER)]) AS spp
       |        FROM pref CROSS JOIN dims a CROSS JOIN dims b GROUP BY 1, 2),
       |cov AS MATERIALIZED (
       |  SELECT p.i, p.j,
       |         CAST(floor(CAST(a.n * p.spp
       |                         - CAST(a.s AS DECIMAL(38,0)) * b.s AS DOUBLE)
       |                    / (CAST(a.n AS DOUBLE) * a.n * 1e6) + 0.5)
       |              AS BIGINT) AS c
       |  FROM spp p JOIN si a ON p.i = a.i JOIN si b ON p.j = b.i),
       |v0 AS (SELECT d AS i, 1000000::BIGINT AS v FROM dims),
       |$rounds,
       |ray AS (SELECT CAST(sum(CAST(a.v * c.c AS DECIMAL(38,0)) * b.v)
       |                    AS DECIMAL(38,0)) AS num
       |        FROM cov c JOIN $vf a ON c.i = a.i JOIN $vf b ON c.j = b.i),
       |dn AS (SELECT CAST(sum(v * v) AS BIGINT) AS den FROM $vf),
       |tc AS (SELECT CAST(sum(c) AS BIGINT) AS trc FROM cov WHERE i = j)
       |SELECT CAST($vf.i AS INTEGER) AS dim, $vf.v AS v_micro,
       |       CASE WHEN dn.den > 0
       |            THEN ${Det.rSql("CAST(ray.num AS DOUBLE) / dn.den / 1e6", 8)}
       |       END AS lambda,
       |       CASE WHEN dn.den > 0 AND tc.trc > 0
       |            THEN ${Det.rSql("CAST(ray.num AS DOUBLE) / dn.den / tc.trc", 6)}
       |       END AS var_share
       |FROM $vf, ray, dn, tc ORDER BY dim""".stripMargin
  }

  /** LOCAL CLUSTERING COEFFICIENT over the MUTUAL kNN graph — the
    * neighborhood-quality readout next to [[knnReciprocity]]: per
    * node, what fraction of its neighbor pairs are themselves
    * neighbors (cc = 2t/(d(d−1)))? High cc = tight semantic clusters;
    * low cc = the graph is a hub-and-spoke artifact. The MUTUAL graph
    * is the right substrate and the cheap one: degrees are capped at
    * k, so the wedge enumeration is O(n·k²) — on the raw graph a hub's
    * in-degree is unbounded and deg² explodes (exactly the failure
    * knn_reciprocity prices). Each triangle closes exactly one wedge
    * per vertex, so per-node closed-wedge counts ARE per-node triangle
    * counts. All-integer: per-node cc in ppm via ⌊2t·10⁶/(d(d−1))+0.5⌋,
    * per-degree average via one more exact division. At 100 TB: the
    * shared edge sink + two n·k²-bounded joins. */
  def knnClusteringCoeff(spark: SparkSession, sfDir: String,
                         k: Int = KnnK): DataFrame = {
    val me = knnMutualEdges(spark, sfDir, k)
    val pairs = me.select(least(col("vec_id"), col("neighbor")).as("a"),
      greatest(col("vec_id"), col("neighbor")).as("b")).distinct()
    val adj = pairs.select(col("a").as("ctr"), col("b").as("nb"))
      .union(pairs.select(col("b").as("ctr"), col("a").as("nb")))
    val deg = adj.groupBy("ctr").agg(count(lit(1)).as("d"))
    val wedges = adj.select(col("ctr"), col("nb").as("a"))
      .join(adj.select(col("ctr"), col("nb").as("b")), Seq("ctr"))
      .filter(col("a") < col("b"))
    val closed = wedges.join(pairs, Seq("a", "b"))
      .groupBy("ctr").agg(count(lit(1)).as("t"))
    deg.filter(col("d") >= 2)
      .join(closed, Seq("ctr"), "left")
      .na.fill(0L, Seq("t"))
      .select(col("d"),
        floor(col("t").cast("double") * 2 * 1e6 /
          (col("d") * (col("d") - 1)) + 0.5).cast("long").as("cc_ppm"))
      .groupBy("d")
      .agg(count(lit(1)).as("n_nodes"), sum("cc_ppm").as("sum_cc"))
      .select(col("d").as("degree"), col("n_nodes"),
        floor(col("sum_cc").cast("double") / col("n_nodes") + 0.5)
          .cast("long").as("avg_cc_ppm"))
      .orderBy("degree")
  }

  /** DuckDB twin — the shared kNN edge chain, the mutual (kmm)
    * restriction, then the identical wedge/closure arithmetic. */
  def knnClusteringCoeffSqlFor(k: Int): String =
    s"""WITH RECURSIVE
       |$knnEdgeCtesSql,
       |kmm AS MATERIALIZED (SELECT g.vec_id, g.neighbor
       |       FROM (SELECT vec_id, neighbor FROM rk WHERE rank <= $k) g
       |       JOIN (SELECT vec_id, neighbor FROM rk WHERE rank <= $k) g2
       |         ON g2.vec_id = g.neighbor AND g2.neighbor = g.vec_id),
       |pairs AS MATERIALIZED (
       |  SELECT DISTINCT least(vec_id, neighbor) AS a,
       |         greatest(vec_id, neighbor) AS b FROM kmm),
       |adj AS (SELECT a AS ctr, b AS nb FROM pairs
       |        UNION ALL SELECT b, a FROM pairs),
       |deg AS (SELECT ctr, count(*) AS d FROM adj GROUP BY 1),
       |closed AS (SELECT w.ctr, count(*) AS t
       |           FROM (SELECT x.ctr, x.nb AS a, y.nb AS b
       |                 FROM adj x JOIN adj y ON x.ctr = y.ctr
       |                 WHERE x.nb < y.nb) w
       |           JOIN pairs p ON p.a = w.a AND p.b = w.b
       |           GROUP BY 1),
       |cc AS (SELECT deg.d,
       |              CAST(floor(CAST(coalesce(c.t, 0) AS DOUBLE) * 2 * 1e6
       |                         / (deg.d * (deg.d - 1)) + 0.5) AS BIGINT)
       |                AS cc_ppm
       |       FROM deg LEFT JOIN closed c ON c.ctr = deg.ctr
       |       WHERE deg.d >= 2)
       |SELECT d AS degree, count(*) AS n_nodes,
       |       CAST(floor(CAST(sum(cc_ppm) AS DOUBLE) / count(*) + 0.5)
       |            AS BIGINT) AS avg_cc_ppm
       |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin

  /** RRF smoothing constant — the standard k₀=60 from the original
    * reciprocal-rank-fusion formulation, shared with the oracle. */
  private val RrfK0 = 60

  private val PprIters = 6
  private val PprTopN = 50

  /** PERSONALIZED PAGERANK over the kNN graph — "more like THESE":
    * random-walk-with-restart relevance to a seed set (the fixture
    * query vectors), the standard graph-retrieval upgrade over
    * [[seedExpansion]]'s plain BFS (hops treat every edge alike; PPR
    * weights paths by walk probability, so densely-connected near
    * neighbors outrank distant chains). Teleport mass 0.15 splits
    * uniformly over the seeds; the damped recurrence runs
    * [[PprIters]] rounds in EXACT micro-integer arithmetic — the
    * [[graft.queries.Relational.partPagerank]] discipline:
    * r' = (15·tel) div 100 + (85·Σ_in r div deg) div 100, every
    * division integer, both engines bit-identical. Edges are the
    * shared write-once kNN sink (one build, 5 consumers); nodes are
    * ALL vectors, so an isolated seed keeps its teleport mass instead
    * of vanishing. Output: top-[[PprTopN]] by rank.
    *
    * Scale: the edge build is the family's priced stage (PERF.md);
    * each round is one |n·k|-edge join + |n| agg — the part_pagerank
    * shape, loop-invariant frames cached there and ReuseExchange-
    * deduped here (edges/deg/nodes are plain parquet-sink scans). */
  def knnPpr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val all = vecs(spark, sfDir).select(col("vec_id"))
    val nSeeds = all.filter(col("vec_id") < NumQueries).count()
    if (nSeeds == 0)
      return Seq.empty[(Long, Long, Boolean)]
        .toDF("vec_id", "ppr_micros", "is_seed")
    val ed = knnEdgesMaterialized(spark, sfDir, KnnK)
      .select(col("vec_id").as("src"), col("neighbor").as("dst"))
    val deg = ed.groupBy("src").agg(count(lit(1)).as("deg"))
    val tel = all.select(col("vec_id"),
      when(col("vec_id") < NumQueries, lit(1000000L / nSeeds))
        .otherwise(lit(0L)).as("tel"))
    var ranks = tel.select(col("vec_id"), col("tel").as("r"))
    for (_ <- 1 to PprIters) {
      val contrib = ed
        .join(ranks.withColumnRenamed("vec_id", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("vec_id"), expr("r div deg").as("c"))
        .groupBy("vec_id").agg(sum("c").as("s"))
      ranks = tel.join(contrib, Seq("vec_id"), "left")
        .select(col("vec_id"),
          expr("(15 * tel) div 100 + (85 * coalesce(s, 0)) div 100").as("r"))
    }
    ranks
      .select(col("vec_id"), col("r").as("ppr_micros"),
        (col("vec_id") < NumQueries).as("is_seed"))
      .orderBy(col("ppr_micros").desc, col("vec_id").asc)
      .limit(PprTopN)
  }

  /** DuckDB twin — the shared kNN edge CTE chain + deg/tel frames and
    * the identical integer recurrence unrolled as MATERIALIZED rounds. */
  val knnPprSql: String = {
    val rounds = (1 to PprIters).map { i =>
      s"""c$i AS (SELECT e.dst AS vec_id, CAST(sum(r.r // d.deg) AS BIGINT) AS s
         |        FROM ed e
         |        JOIN p${i - 1} r ON r.vec_id = e.src
         |        JOIN deg d ON d.src = e.src
         |        GROUP BY 1),
         |p$i AS MATERIALIZED (
         |  SELECT t.vec_id,
         |         CAST((15 * t.tel) // 100
         |              + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM tel t LEFT JOIN c$i c ON c.vec_id = t.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |$knnEdgeCtesSql,
       |ed AS MATERIALIZED (SELECT vec_id AS src, neighbor AS dst
       |                    FROM rk WHERE rank <= $KnnK),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
       |ns AS (SELECT count(*) AS ns FROM embeddings
       |       WHERE vec_id < $NumQueries),
       |tel AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         CASE WHEN e.vec_id < $NumQueries THEN 1000000 // ns.ns
       |              ELSE 0 END AS tel
       |  FROM embeddings e, ns WHERE ns.ns > 0),
       |p0 AS MATERIALIZED (SELECT vec_id, CAST(tel AS BIGINT) AS r FROM tel),
       |$rounds
       |SELECT vec_id, r AS ppr_micros, vec_id < $NumQueries AS is_seed
       |FROM p$PprIters
       |ORDER BY ppr_micros DESC, vec_id ASC
       |LIMIT $PprTopN""".stripMargin
  }

  /** RECIPROCAL-RANK FUSION of two retrieval lists — the standard
    * ensemble move when rankers disagree (here: the exact brute-force
    * cosine list and the PQ-compressed ADC list, i.e. quality vs the
    * 32×-compressed scale path): score(v) = Σ_lists 1/(k₀ + rank_v),
    * missing-from-list contributes 0. Entirely INTEGER arithmetic —
    * 10⁶ div (k₀+rank) — so there is no float anywhere, no rounding
    * discipline needed, and ties break on vec_id. The fused rank
    * surfaces where compression reordered the truth (the spec pins
    * fusion ≥ PQ alone on exact-top-1 retention).
    *
    * Scale: both input lists are k·|Q| rows (the ANN operators' own
    * output contract); the fusion is a full-outer join + per-query
    * window over ≤ 2k candidates. Cost is the two retrievals, which
    * the batch/IVF variants already price at scale. */
  def annRrfFusion(spark: SparkSession, sfDir: String,
                   k: Int = TopK): DataFrame = {
    val a = bruteForceTopK(spark, sfDir, k)
      .select(col("qid"), col("vec_id"), col("rank").as("rank_exact"))
    val b = annCosinePq(spark, sfDir, k)
      .select(col("qid"), col("vec_id"), col("rank").as("rank_pq"))
    val fused = a.join(b, Seq("qid", "vec_id"), "full_outer")
      .select(col("qid"), col("vec_id"), col("rank_exact"), col("rank_pq"),
        (coalesce(expr(s"1000000 DIV ($RrfK0 + rank_exact)"), lit(0L)) +
          coalesce(expr(s"1000000 DIV ($RrfK0 + rank_pq)"), lit(0L)))
          .as("rrf_u"))
    val w = Window.partitionBy("qid")
      .orderBy(col("rrf_u").desc, col("vec_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("rrf_u"),
        col("rank_exact"), col("rank_pq"))
      .orderBy("qid", "rank")
  }

  /** DuckDB twin — composes the two registered retrieval oracles as
    * subqueries (WITH-in-subquery is supported), then pure integer
    * fusion. */
  val annRrfFusionSql: String =
    s"""WITH a AS (SELECT qid, vec_id, CAST(rank AS INTEGER) AS rank_exact
       |           FROM ($bruteForceTopKSql)),
       |b AS (SELECT qid, vec_id, CAST(rank AS INTEGER) AS rank_pq
       |      FROM ($annCosinePqSql)),
       |f AS (SELECT coalesce(a.qid, b.qid) AS qid,
       |             coalesce(a.vec_id, b.vec_id) AS vec_id,
       |             a.rank_exact, b.rank_pq,
       |             CAST(coalesce(1000000 // ($RrfK0 + a.rank_exact), 0)
       |                  + coalesce(1000000 // ($RrfK0 + b.rank_pq), 0)
       |                  AS BIGINT) AS rrf_u
       |      FROM a FULL OUTER JOIN b
       |        ON a.qid = b.qid AND a.vec_id = b.vec_id)
       |SELECT qid,
       |       CAST(row_number() OVER (PARTITION BY qid
       |         ORDER BY rrf_u DESC, vec_id) AS INTEGER) AS rank,
       |       vec_id, rrf_u, rank_exact, rank_pq
       |FROM f QUALIFY rank <= $TopK
       |ORDER BY qid, rank""".stripMargin

  private val DriftDeltaMod = 10L

  /** INGEST DRIFT MONITOR — the distribution-shift readout a live
    * ingest needs next to the decontamination gate (and the
    * OCCUPANCY complement of [[embeddingDrift]]'s per-label centroid
    * L2): does the incoming shard (vec_id % deltaMod == deltaMod−1,
    * the delta convention) OCCUPY embedding space the way the corpus
    * does? Per IVF cell:
    * corpus mass, shard mass, both as exact-integer ppm shares, plus
    * the total-variation distance between the two cell distributions
    * (tv_ppm, broadcast onto every row) — TV = Σ|n_shard·NC −
    * n_corpus·NS| / (2·NS·NC), EXACT integer end-to-end (decimal
    * numerator accumulation; the final half-up rounding is
    * [[Det.halfUpDiv]] in BigInt against the oracle's HUGEINT `//`, so
    * even a ≥2⁵³-magnitude numerator agrees cross-engine to the last
    * ppm digit). A drifting crawl (new language, new spam cluster)
    * concentrates shard mass in cells where the corpus has little —
    * TV → 1; a faithful shard reads ~0.
    *
    * Scale: two counts over the memoized cell assignment (one scan),
    * a ≤|cells| LEFT join, and a 1-row rollup — no per-vector data
    * leaves the cell aggregate. Empty shard or corpus → zero rows on
    * both engines (TV undefined). */
  def ingestDrift(spark: SparkSession, sfDir: String,
                  deltaMod: Long = DriftDeltaMod): DataFrame = {
    require(deltaMod > 1, s"deltaMod must be > 1, got $deltaMod")
    val asg = ivfAssigned(spark, sfDir)
    val inShard = col("vec_id") % deltaMod === deltaMod - 1
    val shard = asg.filter(inShard)
      .groupBy("cell").agg(count(lit(1)).as("n_shard"))
    driftLedger(spark, sfDir, shard)
  }

  /** The [[Hist.driftLedger]] of [[ingestDrift]] and the LIVE twin
    * [[ingestDriftBatch]]: the cumulative per-cell shard counts against
    * the frozen corpus distribution (the persisted [[ivfAssigned]]
    * sink). Empty corpus or empty shard → zero rows (TV undefined) on
    * both paths. */
  private def driftLedger(spark: SparkSession, sfDir: String,
                          shard: DataFrame): DataFrame = {
    import spark.implicits._
    val asg = ivfAssigned(spark, sfDir)
    Hist.driftLedger(asg.groupBy("cell").agg(count(lit(1)).as("n_corpus")),
        asg.count(), shard, "cell", col("cell").cast("long").as("cell"))
      .getOrElse(Seq.empty[(Long, Long, Long, Long, Long, Long)]
        .toDF("cell", "n_corpus", "n_shard", "corpus_ppm", "shard_ppm",
          "tv_ppm"))
  }

  /** THE LIVE DRIFT MONITOR — the foreachBatch body pairing
    * [[graft.queries.Curation.decontGateBatch]] on the same ingest
    * stream (r12 verdict #4): place an incoming micro-batch of
    * (vec_id, embedding) rows in IVF cells with the codegen argmin
    * ([[cellArgminCol]], bit-identical to the batch assignment), fold
    * the batch's per-cell counts into the CUMULATIVE shard occupancy —
    * a trivially mergeable monoid, ≤|cells| longs of driver model state
    * (the Hist.bounded class, cells is a trained constant) — and emit
    * the same (cell, n_corpus, n_shard, corpus_ppm, shard_ppm, tv_ppm)
    * ledger [[ingestDrift]] computes in batch, against the frozen
    * corpus distribution read from the persisted assignment sink. No
    * state store: the cumulative counts ARE the state, threaded by the
    * caller exactly like the per-batch prior it returns. StreamingSpec
    * pins a multi-micro-batch replay (empty batch included) row-equal
    * to the batch monitor; [[ingestDriftReplay]] hash-gates the kernel
    * against DuckDB.
    *
    * Scale: per batch, one |batch|-row placement pass + a ≤|cells|
    * grouped count + the ledger join on the bucketed corpus counts —
    * nothing corpus-sized moves after the substrate freeze. */
  def ingestDriftBatch(spark: SparkSession, sfDir: String,
                       incoming: DataFrame,
                       prior: Map[Int, Long] = Map.empty)
      : (Map[Int, Long], DataFrame) = {
    import spark.implicits._
    val cents = ivfCentroids(spark, sfDir)
    val placed = incoming
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nt", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"),
        cellArgminCol(cents, col("v"), col("nt")).as("cell"))
    val merged = Hist.foldCounts(prior,
      placed.groupBy("cell").agg(count(lit(1)).as("n"))
        .as[(Int, Long)].collect())  // ≤ |cells| rows of model state
    val shard = merged.toSeq.toDF("cell", "n_shard")
    (merged, driftLedger(spark, sfDir, broadcast(shard)))
  }

  /** THE LIVE MONITOR, ORACLE-GATED — [[ingestDriftBatch]] run over the
    * [[ingestDrift]] delta shard as its incoming stream (the
    * decont_gate_replay convention): the live kernel — raw-embedding
    * cell placement, the count monoid, the shared ledger tail — is
    * hash-compared against the SAME DuckDB twin the batch monitor uses,
    * through the exact code path a foreachBatch sink calls. */
  def ingestDriftReplay(spark: SparkSession, sfDir: String,
                        deltaMod: Long = DriftDeltaMod): DataFrame = {
    require(deltaMod > 1, s"deltaMod must be > 1, got $deltaMod")
    val incoming = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % deltaMod === deltaMod - 1)
      .select(col("vec_id"), col("embedding"))
    ingestDriftBatch(spark, sfDir, incoming)._2
  }

  /** DuckDB twin — the chain's `fin` cell assignment, then the
    * [[Hist.driftLedgerSql]] ledger per cell. */
  def ingestDriftSqlFor(deltaMod: Long): String =
    s"""WITH $ivfChainSql,
       |${Hist.driftLedgerSql("fin", "vec_id", "cell",
         "CAST(c.cell AS BIGINT) AS cell", "", deltaMod)}""".stripMargin

  val queries: Seq[Query] = Seq(
    Query.templated("ingest_drift",
        a => ingestDriftSqlFor(a.long("delta_mod", DriftDeltaMod))) { (s, d, a) =>
      ingestDrift(s, d, a.long("delta_mod", DriftDeltaMod)) },
    Query.templated("ingest_drift_replay",
        a => ingestDriftSqlFor(a.long("delta_mod", DriftDeltaMod))) { (s, d, a) =>
      ingestDriftReplay(s, d, a.long("delta_mod", DriftDeltaMod)) },
    Query("ann_rrf_fusion", annRrfFusionSql)(annRrfFusion(_, _)),
    Query("knn_ppr", knnPprSql)(knnPpr),
    Query.templated("knn_clustering_coeff",
        a => knnClusteringCoeffSqlFor(a.int("k", KnnK))) { (s, d, a) =>
      knnClusteringCoeff(s, d, a.int("k", KnnK)) },
    Query("embedding_pca_top", embeddingPcaTopSql)(embeddingPcaTop(_, _)),
    Query.args("ann_cosine_topk", bruteForceTopKSql) { (s, d, a) =>
      bruteForceTopK(s, d, a.int("k", TopK)) },
    Query("matryoshka_recall", matryoshkaRecallSql)(matryoshkaRecall),
    Query("ann_cosine_lsh", annCosineLshSql)(annCosineLsh),
    Query.args("ann_cosine_ivf", annCosineIvfSql) { (s, d, a) =>
      annCosineIvf(s, d, a.int("n_probe", NProbe)) },
    Query("ann_cosine_ivf_mp", annCosineIvfMpSql)(annCosineIvfMp),
    Query("embedding_quantize", embeddingQuantizeSql)(embeddingQuantize),
    Query("embedding_dim_stats", embeddingDimStatsSql)(embeddingDimStats),
    Query("ann_cosine_topk_q8", quantizedTopKSql)(quantizedTopK(_, _)),
    Query("embedding_centroids", embeddingCentroidsSql)(embeddingCentroids),
    Query("centroid_assign", centroidAssignSql)(centroidAssign),
    Query("embedding_pq", embeddingPqSql)(embeddingPq),
    Query.args("ann_cosine_pq", annCosinePqSql) { (s, d, a) =>
      annCosinePq(s, d, a.int("k", TopK)) },
    Query.args("embedding_outliers", embeddingOutliersSql) { (s, d, a) =>
      embeddingOutliers(s, d, a.int("top_n", OutlierTopN)) },
    Query.args("ann_cosine_ivfpq", annCosineIvfPqSql) { (s, d, a) =>
      annCosineIvfPq(s, d, a.int("n_probe", NProbe)) },
    Query.args("ann_cosine_pq_rerank", annCosinePqRerankSql) { (s, d, a) =>
      annCosinePqRerank(s, d, a.int("k", TopK)) },
    Query.args("ann_cosine_ivfpq_rerank", annCosineIvfPqRerankSql) { (s, d, a) =>
      annCosineIvfPqRerank(s, d, a.int("n_probe", NProbeMp)) },
    Query("ann_cosine_ivfpq_res", annCosineIvfPqResSql)(annCosineIvfPqRes(_, _)),
    // the batch path computes the IDENTICAL result by construction —
    // one oracle string hash-checks both plumbing strategies
    Query.args("ann_cosine_ivfpq_batch", annCosineIvfPqResSql) { (s, d, a) =>
      annCosineIvfPqBatch(s, d, a.int("n_probe", NProbeMp), a.long("n_queries", NumQueries)) },
    Query.args("knn_graph", knnGraphSql) { (s, d, a) =>
      knnGraph(s, d, a.int("k", KnnK)) },
    Query.args("knn_mutual", knnMutualSql) { (s, d, a) =>
      knnMutual(s, d, a.int("k", KnnK)) },
    Query.templated("cluster_balanced_sample",
        a => clusterBalancedSampleSqlFor(a.double("alpha", ClusterSampleAlpha))) { (s, d, a) =>
      clusterBalancedSample(s, d, a.double("alpha", ClusterSampleAlpha)) },
    Query("knn_reciprocity", knnReciprocitySql)(knnReciprocity(_, _)),
    Query.args("embedding_rp", embeddingRpSql) { (s, d, a) =>
      embeddingRp(s, d, a.int("out_dims", RpOutDims)) },
    Query.templated("label_propagation", a => labelPropagationSqlFor(a.int("iters", LpIters),
        a.int("k", KnnK), a.int("mask_mod", LpMaskMod), a.str("edges", KnnEdges))) { (s, d, a) =>
      labelPropagation(s, d, a.int("iters", LpIters), a.int("k", KnnK),
          a.int("mask_mod", LpMaskMod), a.str("edges", KnnEdges)) },
    Query.templated("kcore_graph", a => kcoreGraphSqlFor(a.int("k", KnnK),
        a.int("core_k", KcoreK), a.int("peels", KcorePeels))) { (s, d, a) =>
      kcoreGraph(s, d, a.int("k", KnnK), a.int("core_k", KcoreK), a.int("peels", KcorePeels)) },
    Query("embedding_drift", embeddingDriftSql)(embeddingDrift),
    Query("ann_cosine_lsh_mp", annCosineLshMultiprobeSql)(annCosineLshMultiprobe),
    Query.args("knn_delta", knnDeltaSql) { (s, d, a) =>
      knnDelta(s, d, a.int("k", KnnK), a.long("delta_mod", KnnDeltaMod)) },
    Query.templated("knn_components", a => knnComponentsSqlFor(a.int("k", KnnK),
        a.str("edges", KnnEdges))) { (s, d, a) =>
      knnComponents(s, d, a.int("k", KnnK), a.str("edges", KnnEdges)) },
    Query("ivf_modularity", ivfModularitySql)(ivfModularity),
    Query("ivf_nprobe_curve", ivfNprobeCurveSql)(ivfNprobeCurve),
    Query.args("seed_expansion", seedExpansionSql) { (s, d, a) =>
      seedExpansion(s, d, a.int("max_hops", BfsMaxHops)) },
    Query("embedding_standardize", embeddingStandardizeSql)(embeddingStandardize),
    Query.args("hard_negatives", hardNegativesSql) { (s, d, a) =>
      hardNegatives(s, d, a.int("k", KnnK)) },
    Query.args("knn_coherence", knnCoherenceSql) { (s, d, a) =>
      knnCoherence(s, d, a.int("k", KnnK)) },
    Query("mmr_diversify", mmrDiversifySql)(mmrDiversify),
    Query.args("ann_cosine_filtered", annCosineFilteredSql) { (s, d, a) =>
      annCosineFiltered(s, d, a.int("k", TopK)) },
  )
}
