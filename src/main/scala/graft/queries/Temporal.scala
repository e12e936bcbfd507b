package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Query, Tables}
import graft.Query.ArgOps

/** Temporal/log-analytics operators: as-of join and typed JSON
  * extraction over `events`, plus deterministic stratified sampling of
  * `documents` (hash-gated — grouped here with the other id-keyed
  * row-selection operators).
  */
object Temporal {

  /** AS-OF JOIN: each event picks the user's most recent order with
    * o_orderdate <= event ts (classic "enrich tick with latest quote").
    *
    * Implementation is the scalable MERGE pattern, not a theta join:
    * union the two sides tagged by kind, sort per user by (time, kind),
    * and carry the latest order forward with last(..., ignoreNulls) over
    * an unbounded-preceding window. One shuffle on user — cost is
    * O(n log n_partition) regardless of how many orders precede each
    * event (a join + row_number approach would materialize every
    * qualifying order-event pair first: quadratic in the worst case).
    * Orders are pre-deduplicated to one row per (user, date) with the
    * max orderkey — DuckDB's ASOF JOIN (the oracle) breaks date ties
    * arbitrarily otherwise.
    *
    * At 100 TB: both sides shuffle once on the join key; state per user
    * is one carried row. Skewed users would salt the union key and merge
    * salt-local results (same pattern, one extra reduce). */
  def asofJoinOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("uid"), col("o_orderdate").as("t"))
      .agg(max("o_orderkey").as("o_orderkey"))
      .select(col("uid"), col("t"), lit(0).as("kind"),
        lit(null).cast("long").as("event_id"), lit(null).cast("string").as("event_type"),
        col("o_orderkey"))
    val events = Tables.eventsTs(spark, sfDir)
      .select(col("user_id").as("uid"), col("ts").as("t"), lit(1).as("kind"),
        col("event_id"), col("event_type"), lit(null).cast("long").as("o_orderkey"))
    // kind asc: an order AT the event timestamp is visible to the event
    val w = Window.partitionBy("uid").orderBy(col("t").asc, col("kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.unionByName(events)
      .withColumn("last_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("last_orderdate",
        last(when(col("kind") === 0, col("t")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("uid").as("user_id"), col("t").as("ts"),
        col("event_type"), col("last_orderkey").as("o_orderkey"),
        col("last_orderdate").as("o_orderdate"))
      .orderBy("event_id")
  }

  private val AsofSalts = 8

  /** Skew-resistant AS-OF JOIN: the parallel prefix-scan decomposition of
    * [[asofJoinOrders]]. The single-pass merge carries state in ONE window
    * per user, so a user holding 10% of all events serializes into one fat
    * task (measured ~3x degradation at 30M events / 10% skew — PERF.md).
    * Here each user's timeline splits into `salts` CONTIGUOUS time ranges
    * (range = floor((t - min_ts) * salts / span), monotonic in t, so the
    * per-range carry composes by prefix):
    *
    *   1. carry within (uid, range) — the fat user's window becomes
    *      `salts` independent tasks of |events_u|/salts rows each;
    *   2. boundary frame: last order per (uid, range) — ≤ salts rows per
    *      user, aggregated from the order rows only;
    *   3. prefix-scan the boundary frame per user (a window over ≤
    *      2·salts rows) to get each range's carry-IN: the latest order in
    *      any STRICTLY EARLIER range (order-rows sort after query-rows at
    *      equal range, so a range never sees its own orders — those are
    *      pass 1's job);
    *   4. join carry-ins back on (uid, range) — both sides are already
    *      exchanged on (uid, range), so the join reuses pass 1's
    *      partitioning — and coalesce(local carry, carry-in).
    *
    * Within a range, an event preceding every in-range order has a null
    * local carry and takes the carry-in; all other events resolve locally.
    * Output is row-identical to [[asofJoinOrders]] (same oracle; also
    * asserted directly in TemporalSpec), because ranges are contiguous in
    * t and the (t, kind) tie-break is preserved within each range.
    *
    * At 100 TB: same one shuffle on (uid, range) for the big union, plus
    * one events-pruned scan for the global time span (two longs of model
    * state) and one user-count-sized boundary join that reuses the
    * exchange. Worst-case per-task row count drops by `salts` for any
    * skew profile, at the cost of ~2 small extra aggs — the measured
    * trade is in PERF.md; the single-pass variant stays the default for
    * uniform keys. */
  def asofJoinOrdersSalted(spark: SparkSession, sfDir: String,
                           salts: Int = AsofSalts): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val ordersDedup = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("uid"), col("o_orderdate").as("t"))
      .agg(max("o_orderkey").as("o_orderkey"))
    val orders = ordersDedup
      .select(col("uid"), col("t"), lit(0).as("kind"),
        lit(null).cast("long").as("event_id"), lit(null).cast("string").as("event_type"),
        col("o_orderkey"))
    val eventsRaw = Tables.eventsTs(spark, sfDir)
    val events = eventsRaw
      .select(col("user_id").as("uid"), col("ts").as("t"), lit(1).as("kind"),
        col("event_id"), col("event_type"), lit(null).cast("long").as("o_orderkey"))
    // global event-time span: 2 longs of model state (the IVF/bpe_train
    // precedent). Orders outside the event span clamp into the first/last
    // range — clamping keeps range monotonic in t, which is all step 3
    // needs. Empty events => empty output; the span placeholder only has
    // to keep the arithmetic non-degenerate.
    val span = eventsRaw.agg(
      min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).head()
    val (loUs, spanUs) =
      if (span.isNullAt(0)) (0L, 1L)
      else (span.getLong(0), math.max(1L, span.getLong(1) - span.getLong(0) + 1L))
    // clamp BEFORE the int cast: an order far outside the event span
    // yields a quotient beyond Int range (ANSI cast would throw)
    def range(t: Column): Column = greatest(lit(0L), least(lit((salts - 1).toLong),
      floor((unix_micros(t) - loUs) * salts / spanUs).cast("long")))
      .cast("int")
    val u = orders.unionByName(events).withColumn("r", range(col("t")))
    val w = Window.partitionBy("uid", "r").orderBy(col("t").asc, col("kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = u
      .withColumn("lk", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("ld", last(when(col("kind") === 0, col("t")), ignoreNulls = true).over(w))
    // boundary frame: per-(uid, range) last order (m=1) unioned with the
    // ranges that contain events (m=0, null payload via max(when(false))
    // so the struct type matches without spelling it). Query rows sort
    // BEFORE order rows at equal r => strictly-earlier-range semantics.
    val lastOrderPerRange = u.filter(col("kind") === 0)
      .groupBy("uid", "r")
      .agg(max(struct(col("t"), col("o_orderkey"))).as("mo"))
      .withColumn("m", lit(1))
    val eventRanges = u.filter(col("kind") === 1)
      .groupBy("uid", "r")
      .agg(max(when(lit(false), struct(col("t"), col("o_orderkey")))).as("mo"))
      .withColumn("m", lit(0))
    val wc = Window.partitionBy("uid").orderBy(col("r").asc, col("m").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carryIn = lastOrderPerRange.unionByName(eventRanges)
      .withColumn("ci", last(col("mo"), ignoreNulls = true).over(wc))
      .filter(col("m") === 0)
      .select(col("uid"), col("r"),
        col("ci.o_orderkey").as("ci_key"), col("ci.t").as("ci_date"))
    local.filter(col("kind") === 1)
      .join(carryIn, Seq("uid", "r"))
      .select(col("event_id"), col("uid").as("user_id"), col("t").as("ts"),
        col("event_type"),
        coalesce(col("lk"), col("ci_key")).as("o_orderkey"),
        coalesce(col("ld"), col("ci_date")).as("o_orderdate"))
      .orderBy("event_id")
  }

  /** Oracle: DuckDB's native ASOF JOIN over the same tie-broken orders. */
  val asofJoinOrdersSql: String =
    """WITH o AS (SELECT o_custkey AS uid, o_orderdate AS t,
      |                  max(o_orderkey) AS o_orderkey
      |           FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts, e.event_type,
      |       o.o_orderkey, o.t AS o_orderdate
      |FROM events e
      |ASOF LEFT JOIN o ON e.user_id = o.uid AND e.ts >= o.t
      |ORDER BY event_id""".stripMargin

  /** INNER twin of [[asofJoinOrdersSql]] for [[asofJoinNative]]: the
    * native exec DROPS unmatched lefts (TemporalNativeSpec's golden
    * pins it) while the composed union+window form carries a NULL — at
    * the fixture every event has a prior order so the two coincide, but
    * the oracle must encode the native operator's own inner contract,
    * not borrow the LEFT one that happens to hash the same today. */
  val asofJoinNativeSql: String =
    """WITH o AS (SELECT o_custkey AS uid, o_orderdate AS t,
      |                  max(o_orderkey) AS o_orderkey
      |           FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts, e.event_type,
      |       o.o_orderkey, o.t AS o_orderdate
      |FROM events e
      |ASOF JOIN o ON e.user_id = o.uid AND e.ts >= o.t
      |ORDER BY event_id""".stripMargin

  /** Typed JSON extraction: from_json with an explicit schema (vs
    * multikey_counts' per-path get_json_object) — one parse per row, all
    * fields, null-safe on malformed input. */
  def jsonEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.eventsTs(spark, sfDir)
      .select(col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"),
        col("event_type"))
      .withColumn("k_parity", when(col("k") % 2 === 0, "even").otherwise("odd"))
      .orderBy("event_id")

  val jsonEventsSql: String =
    """SELECT event_id,
      |       CAST(json_extract(props, '$.k') AS INTEGER) AS k,
      |       event_type,
      |       CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) % 2 = 0
      |            THEN 'even' ELSE 'odd' END AS k_parity
      |FROM events ORDER BY event_id""".stripMargin

  /** Deterministic stratified sampling — the training-data "mix" step:
    * per-language quotas over `documents`, selected by a content hash
    * (md5 of doc_id) threshold instead of an RNG, so the sample is
    * reproducible across runs/engines AND stable under repartitioning
    * (rand(seed) is neither — it's partition-position-dependent).
    * Fractions: en 50%, others 20%. The md5-prefix uniformity makes
    * hash < frac·2⁶⁰ a per-row Bernoulli trial; DuckDB reproduces it
    * exactly, so even this "random" operator is value-oracled. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("h", conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long"))
      .withColumn("frac", when(col("lang") === "en", 0.5).otherwise(0.2))
      .filter(col("h").cast("double") < col("frac") * math.pow(2, 60))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  val stratifiedSampleSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM (SELECT *,
      |             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS UBIGINT) AS DOUBLE) AS h,
      |             CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END AS frac
      |      FROM documents)
      |WHERE h < frac * 1152921504606846976
      |ORDER BY doc_id""".stripMargin

  /** The split hash-bucket as a reusable Column (md5 of the id, first 15
    * hex chars, mod 100) — shared with contamination_check so both sides
    * of the audit agree on the split by construction. */
  def bucketCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (conv(substring(md5(id.cast("string")), 1, 15), 16, 10)
      .cast("long") % 100).cast("int")

  /** DuckDB twin of [[bucketCol]]. */
  def bucketSql(id: String): String =
    s"CAST(CAST('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15) AS UBIGINT) % 100 AS INTEGER)"

  /** Deterministic train/val/test assignment — the held-out-split step of
    * a training pipeline. Same md5-gate idiom as [[stratifiedSample]]:
    * bucket = hash(doc_id) mod 100 → test (<5) / val (<10) / train. A
    * pure function of the id: reproducible across runs, engines, and
    * repartitioning, and docs keep their split when the corpus grows
    * (the property that matters for contamination control — a doc never
    * migrates from test into train on re-ingestion). */
  def splitAssign(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("bucket", bucketCol(col("doc_id")))
      .withColumn("split",
        when(col("bucket") < 5, "test")
          .when(col("bucket") < 10, "val").otherwise("train"))
      .select("doc_id", "lang", "bucket", "split")
      .orderBy("doc_id")

  val splitAssignSql: String =
    """SELECT doc_id, lang, bucket,
      |       CASE WHEN bucket < 5 THEN 'test'
      |            WHEN bucket < 10 THEN 'val' ELSE 'train' END AS split
      |FROM (SELECT doc_id, lang,
      |             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS UBIGINT) % 100 AS INTEGER) AS bucket
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Fixed-size per-group sample
  // --------------------------------------------------------------------

  private val SampleK = 3

  /** Bounded min-k buffer over (hkey, doc_id) pairs, ascending — the
    * [[graft.operators.Top3Prices]] pattern with a parameterized k and a
    * MIN ordering. O(k) serialized state per group; merge is
    * associative, so Spark combines buffers map-side before the
    * shuffle. */
  private class MinKByHash(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, String, Long, Long), Seq[(Long, Long)], Seq[(Long, Long)]] {
    // invariant: the buffer is always sorted ascending, so the common
    // case (a row outside the current top-k) is one comparison against
    // the buffer's last element and NO allocation — the naive
    // sorted.take-per-row formulation measurably lost to the window at
    // probe scale on exactly that garbage
    override def zero: Seq[(Long, Long)] = Nil
    override def reduce(b: Seq[(Long, Long)], a: (String, String, Long, Long)): Seq[(Long, Long)] = {
      val p = (a._3, a._4)
      if (b.length < k) (p +: b).sorted
      else if (Ordering[(Long, Long)].lt(p, b.last)) ((p +: b).sorted).take(k)
      else b
    }
    override def merge(x: Seq[(Long, Long)], y: Seq[(Long, Long)]): Seq[(Long, Long)] =
      (x ++ y).sorted.take(k)
    override def finish(r: Seq[(Long, Long)]): Seq[(Long, Long)] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Fixed-size deterministic per-group sample: the k docs with the
    * smallest md5 hash key per (lang, source) cell — how an eval set or
    * human-inspection batch gets drawn from a production corpus.
    * Complements [[stratifiedSample]] (RATE-based, output grows with the
    * corpus): the hash ORDER gives each cell exactly min(k, |cell|) rows
    * no matter how big the cell is, re-ingestion-stable for whatever
    * subset of doc_ids survives upstream filters.
    *
    * Min-k is DISTRIBUTIVE (global k-smallest ⊆ union of per-partition
    * k-smallest), so this runs as a typed [[MinKByHash]] Aggregator
    * rather than a window: partial aggregation keeps O(k) state per cell
    * per task map-side, and the shuffle carries at most k·cells·tasks
    * buffered pairs instead of the whole corpus — the window-ranking
    * formulation would full-sort every cell (cell sizes grow with the
    * corpus even though cell COUNT is bounded). Ranking ties cannot
    * happen (the hash key is injective per doc_id within 60 bits). */
  def groupSample(spark: SparkSession, sfDir: String, k: Int = SampleK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import spark.implicits._
    val hkey = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"), hkey.as("hkey"), col("doc_id"))
      .as[(String, String, Long, Long)]
      .groupByKey(t => (t._1, t._2))
      .agg(new MinKByHash(k).toColumn.name("top"))
      .toDF("cell", "top")
      .select(col("cell._1").as("lang"), col("cell._2").as("source"),
        posexplode(col("top")))
      .select(col("lang"), col("source"), (col("pos") + 1).as("rk"),
        col("col._2").as("doc_id"), col("col._1").as("hkey"))
      .orderBy("lang", "source", "rk")
  }

  def groupSampleSqlFor(k: Int): String =
    s"""SELECT lang, source, rk, doc_id, hkey
       |FROM (SELECT lang, source, doc_id, hkey,
       |             row_number() OVER (PARTITION BY lang, source
       |                                ORDER BY hkey, doc_id) AS rk
       |      FROM (SELECT doc_id, lang, source,
       |                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |                        AS UBIGINT) AS BIGINT) AS hkey
       |            FROM documents))
       |WHERE rk <= $k
       |ORDER BY lang, source, rk""".stripMargin

  /** Ordered conversion funnel over `events` with a 24 h conversion
    * window: how many users did view → click → purchase IN ORDER, each
    * stage strictly after the previous stage's first occurrence and
    * within 24 h of it — the classic product-analytics query a
    * log-processing framework gets asked first (the window is what makes
    * it a funnel rather than a trivial existence test: on this fixture
    * 150 → 60 → 25 users, vs 150/150/150 unwindowed). Three phases, each
    * one conditional min per user; phase k+1 joins phase k's timestamp
    * and keeps only qualifying events. Per-user state is one timestamp
    * per stage, so each phase is a shuffle on user_id against the
    * (shrinking) qualified-user set. Fixture timestamps are
    * µs-precision, so the `>` comparisons agree between Spark's µs and
    * DuckDB's ns reads; the 24 h offset is exact in both. */
  def eventsFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsTs(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val win = expr("INTERVAL 24 HOURS")
    val viewed = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val clicked = ev.filter(col("event_type") === "click")
      .join(viewed, "user_id")
      .filter(col("ts") > col("t_view") && col("ts") <= col("t_view") + win)
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val purchased = ev.filter(col("event_type") === "purchase")
      .join(clicked, "user_id")
      .filter(col("ts") > col("t_click") && col("ts") <= col("t_click") + win)
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    viewed.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
      .unionByName(clicked.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click_after_view").as("stage"), col("n_users")))
      .unionByName(purchased.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase_after_click").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  val eventsFunnelSql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t_view
      |        AND e.ts <= v.t_view + INTERVAL 24 HOURS
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |        AND e.ts <= c.t_click + INTERVAL 24 HOURS
      |      GROUP BY e.user_id)
      |SELECT '1_view' AS stage, count(*) AS n_users FROM v
      |UNION ALL
      |SELECT '2_click_after_view', count(*) FROM c
      |UNION ALL
      |SELECT '3_purchase_after_click', count(*) FROM p
      |ORDER BY stage""".stripMargin

  /** Event-type transition matrix (first-order Markov counts): per user,
    * order events by (ts, event_id) and count each consecutive
    * (from_type → to_type) pair, plus how many distinct users produced
    * it — the session-modeling aggregate behind "what do users do after
    * an error?".
    *
    * One window shuffle on user_id (high-cardinality — no funnel) feeding
    * one partial-agg groupBy on the (from, to) pair; output is
    * |event_type|² rows regardless of corpus size. The event_id tiebreak
    * makes the lag deterministic under timestamp ties on both engines. */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.eventsTs(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct("user_id").as("n_users"))
      .orderBy("from_type", "to_type")
  }

  val eventTransitionsSql: String =
    """WITH t AS (
      |  SELECT user_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) AS from_type
      |  FROM events)
      |SELECT from_type, event_type AS to_type, count(*) AS n,
      |       count(DISTINCT user_id) AS n_users
      |FROM t WHERE from_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Cohort retention matrix: users cohorted by first-active day; for
    * each (cohort_day, days_since) cell, how many of that cohort were
    * active again that many days later, and what fraction of the cohort
    * that is — the standard product-analytics retention triangle (the
    * companion readout to [[eventsFunnel]]'s conversion view).
    *
    * Two shuffles on user_id (first-day min and the (user, day)
    * distinct — high-cardinality, unskewed) and one shuffle join back on
    * user_id; cohort sizes are |days| rows, so that join broadcasts.
    * Output is bounded by days² regardless of corpus size, and the
    * retention fraction divides two exact integers (one IEEE division —
    * engine-identical), so the whole matrix is hash-exact. */
  def userRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsTs(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    // |users| rows — cached so its two consumers (the size rollup and
    // the activity join) don't each re-scan and re-aggregate the corpus
    val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      .cache()
    val sizes = cohort.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_size"))
    ev.distinct()
      .join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("days_since"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("days_since"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
      .orderBy("cohort_day", "days_since")
  }

  val userRetentionSql: String =
    """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      |           FROM events GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |r AS (SELECT f.cohort_day,
      |             CAST(date_diff('day', f.cohort_day, a.day) AS INTEGER) AS days_since,
      |             count(*) AS n_active
      |      FROM a JOIN f USING (user_id) GROUP BY 1, 2),
      |c AS (SELECT cohort_day, count(*) AS cohort_size FROM f GROUP BY 1)
      |SELECT r.cohort_day, r.days_since, r.n_active, c.cohort_size,
      |       CAST(r.n_active AS DOUBLE) / c.cohort_size AS retention
      |FROM r JOIN c USING (cohort_day)
      |ORDER BY cohort_day, days_since""".stripMargin

  private val RollingHours = 24

  /** Per-event trailing-24h activity: at every event, how many events
    * (and how much value) the same user produced in the preceding 24
    * hours INCLUDING this one — the rate-limiting / anomaly-detection
    * feature a log pipeline computes per record. Semantically a RANGE
    * window frame (bounded by time, not row count) over epoch-micros —
    * which is exactly how the DuckDB oracle states it.
    *
    * NOT implemented as a Spark trailing RANGE frame, by measurement:
    * Spark's sliding-frame processor cannot retract, so it
    * RE-AGGREGATES the whole frame every row — O(rows × frame) per
    * key. Fine when frames are rows-thin (the uniform fixture: ~2
    * rows/frame), catastrophic when one user is dense: at the
    * 30M-event skew probe (one bot user holding ~10% of events,
    * trailing frame ≈ 88k rows) the hot task burned >22 CPU-MINUTES
    * before being killed, vs 14.4 s for the whole uniform run (PERF.md
    * skew table). The trailing frame is instead DECOMPOSED into two
    * GROWING frames — n_24h(t) = cum≤(t) − cum≤(t−24h−1µs) — because
    * Spark's unbounded-preceding frame processor is add-only
    * incremental: the lower bound never moves, so nothing needs
    * retracting and each key costs O(n log n) total. Same single
    * shuffle and sort as the naive frame (both window specs share the
    * (user_id, ts_us) sort order); skew now degrades gracefully — the
    * hot key is one linear task, like every other per-user fold
    * (PERF.md skew table: 17.1 s uniform / 35.9 s at 10% skew, 30M
    * events — vs the old frame's killed single task).
    *
    * Exactness: timestamps are integral µs, so "strictly before
    * t−24h" is precisely "≤ t−24h−1µs" — the RANGE upper bound of the
    * subtracted frame; ties at t and at the 24h boundary land in the
    * frame on both engines. Value sums are integer cents
    * (order-independent, exact subtraction before the one divide). */
  def eventsRolling24h(spark: SparkSession, sfDir: String,
                       windowHours: Int = RollingHours): DataFrame = {
    require(windowHours > 0, s"windowHours must be positive, got $windowHours")
    val dayUs = windowHours.toLong * 3600 * 1000000
    def grow(upper: Long) = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(Window.unboundedPreceding, upper)
    val wLe = grow(0)           // all events with ts' <= t (ties included)
    val wLt = grow(-dayUs - 1)  // all events with ts' < t - 24h
    Tables.eventsTs(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("cents", Det.cents(col("value")))
      .withColumn("n_24h",
        count(lit(1)).over(wLe) - count(lit(1)).over(wLt))
      .withColumn("val_24h",
        (sum("cents").over(wLe) - coalesce(sum("cents").over(wLt), lit(0L)))
          .cast("double") / 100)
      .select("event_id", "user_id", "ts", "n_24h", "val_24h")
      .orderBy("event_id")
  }

  def eventsRolling24hSqlFor(windowHours: Int): String =
    s"""SELECT event_id, user_id, ts,
       |       count(*) OVER w AS n_24h,
       |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100 AS val_24h
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts
       |             RANGE BETWEEN INTERVAL $windowHours HOURS PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin

  /** Daily event-type pivot: one row per day, one column per event type
    * — the wide-format report table (`pivot` is the reshaping operator
    * every BI layer asks of an engine). The type list is EXPLICIT, which
    * matters twice: the output schema is deterministic, and Spark skips
    * the extra values-discovery job an unlisted pivot runs over the
    * corpus first. One grouped agg; output is |days| rows. */
  def eventsPivotDaily(spark: SparkSession, sfDir: String): DataFrame =
    Tables.eventsTs(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("event_type"))
      .groupBy("day")
      .pivot("event_type", Seq("view", "click", "purchase", "error", "signup"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

  val eventsPivotDailySql: String =
    """SELECT CAST(ts AS DATE) AS day,
      |       count(*) FILTER (WHERE event_type = 'view') AS "view",
      |       count(*) FILTER (WHERE event_type = 'click') AS click,
      |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |       count(*) FILTER (WHERE event_type = 'error') AS error,
      |       count(*) FILTER (WHERE event_type = 'signup') AS signup
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Per-event z-score against the SAME user's value distribution — the
    * feature-engineering/anomaly standardization a log pipeline emits per
    * record ("is this purchase unusual FOR THIS USER"). The user moments
    * (n, Σcents, Σcents² in decimal(38,0) — cents² sums overflow long at
    * 100 TB group sizes, the stats_agg lesson) come from one grouped agg
    * joined back on user_id. No broadcast hint on purpose: the moment
    * frame is |users|-sized, which AQE can broadcast at fixture scale
    * but must shuffle-join when a 100 TB corpus has 10⁸ users — both
    * sides already key on user_id, so it's one co-partitioned exchange.
    *
    * Determinism: moments are exact integers; mean/std/z are the same
    * literal double expressions on both engines ([[Det]] r4 at the end).
    * Single-event or constant-valued users get z = null (no variance to
    * standardize against), matching SQL NULL semantics cross-engine. */
  def eventsZscore(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsTs(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        Det.cents(col("value")).as("c"))
    // cast BEFORE the multiply: c*c in LongType wraps silently past
    // |value| ≈ $30.4M (c ≈ 3e9 cents); the decimal product is exact and
    // matches the oracle's decimal multiply instead of diverging
    val mom = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("c").as("sc"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("scc"))
    // population variance NUMERATOR in cents²: n·Σc² − (Σc)². The null
    // guard tests THIS, not sqrt(var) > 0: past 2^53 the two double
    // products can round to a tiny negative for a constant-valued user,
    // sqrt goes NaN, and NaN > 0 is TRUE under Spark's total ordering —
    // NaN would leak into z where the contract says null
    val varNum = col("scc").cast("double") * col("n") -
      col("sc").cast("double") * col("sc")
    ev.join(mom, "user_id")
      .withColumn("mean_c", col("sc").cast("double") / col("n"))
      .withColumn("var_num", varNum)
      .withColumn("sd_c",
        sqrt(col("var_num") / (col("n").cast("double") * col("n"))))
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("c").cast("double") / 100).as("value"),
        Det.r(col("mean_c") / 100, 4).as("user_mean"),
        Det.r(when(col("var_num") > 0,
          (col("c") - col("mean_c")) / col("sd_c")), 4).as("z"))
      .orderBy("event_id")
  }

  val eventsZscoreSql: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type,
       |                  CAST(round(value * 100) AS BIGINT) AS c
       |           FROM events),
       |m AS (SELECT user_id, count(*) AS n, sum(c) AS sc,
       |             sum(CAST(c AS DECIMAL(38,0)) * c) AS scc
       |      FROM e GROUP BY user_id)
       |SELECT event_id, user_id, event_type,
       |       CAST(c AS DOUBLE) / 100 AS value,
       |       ${Det.rSql("(CAST(sc AS DOUBLE) / n) / 100", 4)} AS user_mean,
       |       ${Det.rSql(
              "CASE WHEN CAST(scc AS DOUBLE) * n - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) > 0 " +
              "THEN (c - CAST(sc AS DOUBLE) / n) / sqrt((CAST(scc AS DOUBLE) * n - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) / (CAST(n AS DOUBLE) * n)) END", 4)} AS z
       |FROM e JOIN m USING (user_id)
       |ORDER BY event_id""".stripMargin

  private val PathLen = 3
  private val PathTopN = 25

  /** Top session-opening paths: sessionize (4 h inactivity gap, the
    * [[graft.streaming.StreamingJobs.sessions4h]] boundary rule), take
    * each session's first 3 event types in (ts, event_id) order, and
    * count the resulting paths — "how do sessions start", the sequence-
    * mining readout behind onboarding and funnel-entry analysis.
    *
    * Two window passes on user_id (gaps-and-islands sid, then the
    * within-session rank — both shuffle-compatible: the second window's
    * (user_id, sid) partitioning is a refinement of the first's, so
    * Spark reuses the exchange), a per-session ordered fold to the path
    * string, and a bounded path agg. Output ≤ |event_types|³ rows before
    * the top-N; ties break on path text. */
  def sessionPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val wUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val wSess = Window.partitionBy("user_id", "sid")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.eventsTs(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(wUser).isNull ||
          col("ts") - lag(col("ts"), 1).over(wUser) >= expr("INTERVAL 4 HOURS"),
          1).otherwise(0))
      .withColumn("sid", sum("new_s").over(
        wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rk", row_number().over(wSess))
      .filter(col("rk") <= PathLen)
      .groupBy("user_id", "sid")
      .agg(concat_ws("->",
        transform(sort_array(collect_list(struct(col("rk"), col("event_type")))),
          s => s.getField("event_type"))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(PathTopN)
  }

  val sessionPathsSql: String =
    s"""WITH o AS (
       |  SELECT user_id, ts, event_id, event_type,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR THEN 1 ELSE 0 END AS new_s
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (SELECT user_id, ts, event_id, event_type,
       |             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                              ROWS UNBOUNDED PRECEDING) AS sid
       |      FROM o),
       |r AS (SELECT user_id, sid, event_type,
       |             row_number() OVER (PARTITION BY user_id, sid
       |                                ORDER BY ts, event_id) AS rk
       |      FROM s),
       |p AS (SELECT user_id, sid,
       |             string_agg(event_type, '->' ORDER BY rk) AS path
       |      FROM r WHERE rk <= $PathLen GROUP BY user_id, sid)
       |SELECT path, count(*) AS n_sessions
       |FROM p GROUP BY path
       |ORDER BY n_sessions DESC, path ASC
       |LIMIT $PathTopN""".stripMargin

  // --------------------------------------------------------------------
  // Count-min sketch heavy hitters
  // --------------------------------------------------------------------

  private val CmsDepth = 4
  private val CmsWidth = 1024
  private val CmsTopN = 20

  /** Count-min sketch frequency estimates for the hottest event keys —
    * the fixed-memory frequency summary (Cormode & Muthukrishnan) every
    * streaming/telemetry pipeline keeps where exact per-key counts are
    * unaffordable: d=[[CmsDepth]] hash rows × w=[[CmsWidth]] buckets of
    * counters, est(k) = minᵈ counter[hᵈ(k)], a guaranteed OVER-estimate.
    * Emits the top-[[CmsTopN]] exact-hottest users with exact count,
    * sketch estimate, and the overcount — the accuracy readout that
    * sizes d×w choices (like [[Relational.approxDistinctParts]], the
    * exact leg is the oracle-gate verification; a production pipeline
    * keeps only the sketch).
    *
    * Scale shape: ONE corpus pass folds to the d·w counter table —
    * 4096 rows regardless of key cardinality or corpus size, hence
    * legitimately broadcast for the estimate join; the exact top-N leg
    * is a grouped count + TakeOrdered. The sketch side never shuffles
    * anything user-cardinality-sized: the explode(d)→groupBy(d, bucket)
    * agg map-side combines into ≤ d·w cells per task. Hashes are
    * md5-derived ([[bucketCol]] idiom, keyed by hash row), so the
    * sketch is a pure function of the data — reproducible across runs,
    * engines, and partitionings. */
  private def cmsBucket(d: Column, k: Column): Column =
    (conv(substring(md5(concat(d.cast("string"), lit(":"), k.cast("string"))),
      1, 15), 16, 10).cast("long") % CmsWidth).cast("int")

  /** The d×w counter fold over a (user_id) frame — a stateless
    * projection + grouped count, so it runs UNCHANGED over a stream in
    * complete mode (state = the fixed 4096 counters; StreamingSpec
    * proves stream == batch). Shared by [[eventsCmsTopk]]. */
  def cmsCounters(ev: DataFrame): DataFrame =
    ev.withColumn("d", explode(sequence(lit(0), lit(CmsDepth - 1))))
      .withColumn("b", cmsBucket(col("d"), col("user_id")))
      .groupBy("d", "b").agg(count(lit(1)).as("c"))

  def eventsCmsTopk(spark: SparkSession, sfDir: String,
                    topN: Int = CmsTopN): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    val ev = Tables.events(spark, sfDir).select(col("user_id"))
    val counters = cmsCounters(ev)
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id").asc).limit(topN)
    exact.withColumn("d", explode(sequence(lit(0), lit(CmsDepth - 1))))
      .withColumn("b", cmsBucket(col("d"), col("user_id")))
      .join(broadcast(counters), Seq("d", "b"))
      .groupBy("user_id", "n_exact").agg(min("c").as("n_est"))
      .select(col("user_id"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overcount"))
      .orderBy(col("n_exact").desc, col("user_id").asc)
  }

  val eventsCmsTopkSql: String = {
    val b = "CAST(CAST('0x' || substr(md5(CAST(%s AS VARCHAR) || ':' || " +
      s"CAST(%s AS VARCHAR)), 1, 15) AS UBIGINT) %% $CmsWidth AS INT)"
    s"""WITH ev AS (SELECT user_id FROM events),
       |pairs AS (SELECT user_id, CAST(d AS INT) AS d,
       |                 ${b.format("d", "user_id")} AS b
       |          FROM ev CROSS JOIN range(0, $CmsDepth) r(d)),
       |counters AS (SELECT d, b, count(*) AS c FROM pairs GROUP BY d, b),
       |exact AS (SELECT user_id, count(*) AS n_exact FROM ev
       |          GROUP BY user_id ORDER BY n_exact DESC, user_id LIMIT $CmsTopN),
       |est AS (SELECT e.user_id, e.n_exact, min(c.c) AS n_est
       |        FROM exact e CROSS JOIN range(0, $CmsDepth) r(d)
       |        JOIN counters c ON c.d = CAST(r.d AS INT)
       |                       AND c.b = ${b.format("r.d", "e.user_id")}
       |        GROUP BY 1, 2)
       |SELECT user_id, n_exact, CAST(n_est AS BIGINT) AS n_est,
       |       CAST(n_est - n_exact AS BIGINT) AS overcount
       |FROM est ORDER BY n_exact DESC, user_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // Histogram quantile sketch
  // --------------------------------------------------------------------

  private val QBins = 4096
  private val QPs: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** Histogram quantile sketch over `events.value` — the fixed-memory
    * percentile summary (p50/p90/p99) a telemetry pipeline keeps where
    * an exact percentile means sorting the corpus: two scalar-agg
    * passes (min/max/count, then [[QBins]] equi-width bin counts) fold
    * the corpus to a ≤4096-row histogram — bounded model state, the
    * IVF/BPE precedent — and the quantile interpolates inside the
    * target bin. Error is bounded by one bin width of the value range,
    * the classic equi-width trade ([[Relational.percentilePrices]] is
    * the exact interpolated readout where affordable; this is the
    * at-scale shape). Completes the sketch family: HLL
    * (approx_distinct_parts), count-min ([[eventsCmsTopk]]), quantiles.
    *
    * Determinism: bin ids are integer floors of one spelled-out IEEE
    * expression; bin counts are longs; the interpolation replays the
    * identical op order on both engines, so the estimates hash-match
    * bit-for-bit. Rank target r = ⌈p·n⌉; the target bin is the unique
    * bin with cum_before < r ≤ cum_before+cnt. Degenerate range
    * (max == min) emits the constant. */
  def eventsValueQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // finite-only: one ±Inf poisons min/max and a NaN ratio would hit the
    // ANSI double→int cast; telemetry at 100 TB WILL contain such rows
    val ev = Tables.events(spark, sfDir).select(col("value"))
      .filter(col("value").isNotNull && !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity))
    val s = ev.agg(min("value").as("mn"), max("value").as("mx")).head()
    if (s.isNullAt(0))
      return Seq.empty[(Double, Long, Int, Double)]
        .toDF("p", "rank_target", "bin", "est")
    val (mn, mx) = (s.getDouble(0), s.getDouble(1))
    // clamp on DOUBLES before the int cast: a denormal-tiny range makes
    // the ratio huge-but-finite, and the ANSI cast would throw before
    // an int-typed least could save it (the salted as-of join precedent)
    val binExpr =
      if (mx == mn) lit(0)
      else least(lit((QBins - 1).toDouble),
        floor((col("value") - mn) / (mx - mn) * QBins)).cast("int")
    // ≤ QBins rows of model state — the whole sketch (guard is belt-and-
    // suspenders here: the bin id is already capped by construction)
    val hist = Hist.bounded(ev.select(binExpr.as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt")), "events_value_quantiles")
      .map(r => (r.getAs[Int]("bin"), r.getAs[Long]("cnt")))
      .sortBy(_._1)
    val width = (mx - mn) / QBins
    val rows = QPs.map { p =>
      val cut = Hist.nearestRank(hist.map(_._2), p)
      val (bin, cnt) = hist(cut.index)
      val est =
        if (mx == mn) mn
        else mn + (bin + (cut.rank - cut.before).toDouble / cnt) * width
      (p, cut.rank, bin, est)
    }
    rows.toDF("p", "rank_target", "bin", "est").orderBy("p")
  }

  val eventsValueQuantilesSql: String =
    s"""WITH ev AS (SELECT value FROM events
       |            WHERE value IS NOT NULL AND isfinite(value)),
       |s AS (SELECT min(value) AS mn, max(value) AS mx, count(value) AS n FROM ev),
       |b AS (SELECT CASE WHEN s.mx = s.mn THEN 0
       |             ELSE CAST(least(CAST(${QBins - 1} AS DOUBLE),
       |                             floor((e.value - s.mn) / (s.mx - s.mn) * $QBins)) AS INT)
       |             END AS bin
       |      FROM ev e, s),
       |h AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
       |c AS (SELECT bin, cnt,
       |             COALESCE(CAST(sum(cnt) OVER (ORDER BY bin
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |               0) AS cum_before
       |      FROM h),
       |t AS (SELECT p, CAST(ceil(p * s.n) AS BIGINT) AS r
       |      FROM (SELECT unnest([${QPs.mkString(", ")}]) AS p), s)
       |SELECT t.p, t.r AS rank_target, c.bin,
       |       CASE WHEN s.mx = s.mn THEN s.mn
       |       ELSE s.mn + (c.bin + CAST(t.r - c.cum_before AS DOUBLE) / c.cnt)
       |              * ((s.mx - s.mn) / $QBins) END AS est
       |FROM t JOIN c ON c.cum_before < t.r AND t.r <= c.cum_before + c.cnt, s
       |ORDER BY p""".stripMargin

  // --------------------------------------------------------------------
  // Hourly gap fill (time-series regularization)
  // --------------------------------------------------------------------

  /** Hourly GAP FILL with forward fill — regularize each user's event
    * stream onto an hourly grid from their first to last event hour,
    * carrying the last observed `value` across silent hours (the
    * resample/ffill step every time-series feature pipeline runs before
    * windowed models; cf. pandas `resample('1h').ffill()`).
    *
    * Three keyed passes, no corpus-wide state: (1) last observation per
    * (user, hour) via a row_number window; (2) per-user span → hourly
    * grid via `sequence` + `explode` (grid rows = users × span-hours —
    * the output's own size, nothing amplifies beyond it); (3) forward
    * fill with `last(ignoreNulls)` over an UNBOUNDED-PRECEDING growing
    * frame (incremental per CLAUDE.md — no O(rows × frame) re-scan).
    * Every shuffle keys on user_id; a 100 TB corpus distributes by user
    * with one carried row of state per user, same as the as-of merge.
    * A user with a years-long span emits years × 24 grid rows — that is
    * the operator's contract (the grid IS the output), not a blow-up. */
  def eventsGapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsTs(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        date_trunc("hour", col("ts")).as("hour"))
    val wHr = Window.partitionBy("user_id", "hour")
      .orderBy(col("ts").desc, col("event_id").desc)
    val perHour = ev
      .withColumn("rk", row_number().over(wHr))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("hour"), col("value").as("obs_value"),
        lit(1).as("m"))
    val grid = ev.groupBy("user_id")
      .agg(min("hour").as("h0"), max("hour").as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour"))
    val wFill = Window.partitionBy("user_id").orderBy(col("hour").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(perHour, Seq("user_id", "hour"), "left")
      .withColumn("filled_value",
        last(col("obs_value"), ignoreNulls = true).over(wFill))
      .select(col("user_id"), col("hour"),
        col("m").isNotNull.as("observed"), col("filled_value"))
      .orderBy("user_id", "hour")
  }

  val eventsGapFillSql: String =
    """WITH e AS (SELECT user_id, ts, event_id, value,
      |                  date_trunc('hour', ts) AS hour FROM events),
      |l AS (SELECT user_id, hour, value AS obs_value,
      |             row_number() OVER (PARTITION BY user_id, hour
      |                                ORDER BY ts DESC, event_id DESC) AS rk
      |      FROM e),
      |o AS (SELECT user_id, hour, obs_value, 1 AS m FROM l WHERE rk = 1),
      |g AS (SELECT user_id,
      |             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |      FROM (SELECT user_id, min(hour) AS h0, max(hour) AS h1
      |            FROM e GROUP BY user_id))
      |SELECT g.user_id, g.hour, o.m IS NOT NULL AS observed,
      |       last_value(o.obs_value IGNORE NULLS) OVER (
      |         PARTITION BY g.user_id ORDER BY g.hour
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      |FROM g LEFT JOIN o ON o.user_id = g.user_id AND o.hour = g.hour
      |ORDER BY g.user_id, g.hour""".stripMargin

  // --------------------------------------------------------------------
  // Binned range join (interval × point, no equi key)
  // --------------------------------------------------------------------

  private val BurstWindowUs: Long = 30L * 60 * 1000000 // 30 minutes

  /** RANGE JOIN, binned: count (and sum) the purchases falling inside
    * each 30-minute error window [ts_err, ts_err + 30 min) — "what did
    * the incident cost us", an interval × point join with NO equi key.
    *
    * Naively this is a theta join: Spark plans a broadcast-nested-loop /
    * cartesian over |errors| × |purchases| — the canonical scale-killer.
    * The binned rewrite turns it into an EQUI join: quantize time into
    * bins of exactly the window length (so each interval spans ≤ 2 bins),
    * explode each interval to its ≤ 2 bins, key each purchase by its own
    * bin, hash-join on the bin, then apply the exact [t0, t1) predicate.
    * A purchase's bin is unique, so no dedup pass is needed. Pair work
    * drops from |iv| × |pt| to the co-binned pairs only (~|pt| × 2 ×
    * occupancy); the join shuffles on the bin key like any other hash
    * join, so 100 TB distributes normally. A flash-crowd bin (skew) is
    * an AQE skew-join split, same as any hot key; bin width always equals
    * the window length, so the ≤ 2-bins invariant holds by construction.
    * Integer micros throughout ([[Det]] discipline): bins via BIGINT DIV,
    * cents sums exact. */
  def rangeJoinBursts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsTs(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    val iv = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("burst_id"), col("ts_us").as("t0"),
        (col("ts_us") + lit(BurstWindowUs)).as("t1"))
    val ivBins = iv.select(col("burst_id"), col("t0"), col("t1"),
      explode(sequence(expr(s"t0 DIV $BurstWindowUs"),
        expr(s"t1 DIV $BurstWindowUs"))).as("bin"))
    val pt = ev.filter(col("event_type") === "purchase")
      .select(col("ts_us").as("p_ts"),
        Det.cents(col("value")).as("cents"),
        expr(s"ts_us DIV $BurstWindowUs").as("bin"))
    val hits = pt.join(ivBins, "bin")
      .filter(col("p_ts") >= col("t0") && col("p_ts") < col("t1"))
      .groupBy("burst_id")
      .agg(count(lit(1)).as("n_purchases"), sum("cents").as("cents"))
    iv.join(hits, Seq("burst_id"), "left")
      .select(col("burst_id"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("cents").cast("double") / 100, lit(0.0)).as("val_sum"))
      .orderBy("burst_id")
  }

  /** Oracle: the plain theta join — DuckDB's IEJoin affords it at oracle
    * scale; hash-matching proves the binned rewrite loses/duplicates no
    * pair. */
  val rangeJoinBurstsSql: String =
    s"""WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us, value
       |           FROM events),
       |iv AS (SELECT event_id AS burst_id, ts_us AS t0,
       |              ts_us + $BurstWindowUs AS t1
       |       FROM e WHERE event_type = 'error'),
       |p AS (SELECT ts_us AS p_ts, CAST(round(value * 100) AS BIGINT) AS cents
       |      FROM e WHERE event_type = 'purchase')
       |SELECT iv.burst_id, count(p.p_ts) AS n_purchases,
       |       COALESCE(CAST(sum(p.cents) AS DOUBLE) / 100, 0.0) AS val_sum
       |FROM iv LEFT JOIN p ON p.p_ts >= iv.t0 AND p.p_ts < iv.t1
       |GROUP BY iv.burst_id
       |ORDER BY burst_id""".stripMargin

  // --------------------------------------------------------------------
  // Interval union (overlap-merged active time)
  // --------------------------------------------------------------------

  /** INTERVAL UNION per user: treat every event as a [ts, ts + 30 min)
    * activity interval, merge overlapping/touching intervals
    * (gaps-and-islands), and report each user's island count and total
    * active time — the dwell-time/uptime readout that double-counting
    * naive sums get wrong.
    *
    * One window pass per user: running max of interval ends over the
    * strictly-preceding frame marks island starts (t0 > max end so far),
    * a growing-frame cumsum numbers the islands, then two keyed aggs
    * (per island, per user). All frames are UNBOUNDED-PRECEDING growing
    * frames — incremental, never O(rows × frame). Everything shuffles on
    * user_id; state per user is one running max. Pure int64 micros —
    * exact on both engines. Touching intervals (t0 == prior end) merge:
    * activity is half-open, so they are contiguous. */
  def intervalUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("t0").asc, col("event_id").asc)
    val ev = Tables.eventsTs(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t0"),
        (unix_micros(col("ts")) + lit(BurstWindowUs)).as("t1"))
    ev.withColumn("prev_max_end",
        max("t1").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_end").isNull || col("t0") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum("new_island").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(min("t0").as("s"), max("t1").as("e"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("e") - col("s")).as("active_us"))
      .select(col("user_id"), col("n_islands"), col("active_us"),
        (col("active_us").cast("double") / 60000000d).as("active_min"))
      .orderBy("user_id")
  }

  val intervalUnionSql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t0,
       |                  epoch_us(ts) + $BurstWindowUs AS t1
       |           FROM events),
       |m AS (SELECT user_id, event_id, t0, t1,
       |             max(t1) OVER (PARTITION BY user_id ORDER BY t0, event_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |               AS prev_max_end
       |      FROM e),
       |i AS (SELECT user_id, t0, t1,
       |             sum(CASE WHEN prev_max_end IS NULL OR t0 > prev_max_end
       |                      THEN 1 ELSE 0 END)
       |               OVER (PARTITION BY user_id ORDER BY t0, event_id
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |               AS island
       |      FROM m),
       |s AS (SELECT user_id, island, min(t0) AS s, max(t1) AS e
       |      FROM i GROUP BY user_id, island)
       |SELECT user_id, count(*) AS n_islands,
       |       CAST(sum(e - s) AS BIGINT) AS active_us,
       |       CAST(sum(e - s) AS DOUBLE) / 60000000 AS active_min
       |FROM s GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------------
  // Cohort LTV (cumulative revenue by cohort age)
  // --------------------------------------------------------------------

  /** COHORT LTV: users grouped by first-event day (the cohort), each
    * cohort's purchase revenue laid out by age-in-days since that day,
    * with buyers, per-age revenue, and the cumulative LTV curve — the
    * follow-on readout to [[userRetention]] every growth dashboard
    * plots ("how much has the Jan-3 cohort spent by day 14").
    *
    * Two keyed aggs (first-day per user on user_id; revenue per
    * (cohort, age) after a co-keyed join back on user_id), then the
    * cumulative window runs over the AGGREGATED frame — ≤ span² rows
    * (cohorts × ages) regardless of corpus size, so the growing frame
    * partitioned by cohort is model-state-sized, never a corpus
    * window. Cents integers; distinct buyers is exact. */
  def cohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsTs(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"),
        to_date(col("ts")).as("day"),
        Det.cents(col("value")).as("cents"))
    val cohorts = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    val cells = ev.filter(col("event_type") === "purchase")
      .join(cohorts, "user_id")
      .withColumn("age", datediff(col("day"), col("cohort_day")))
      .groupBy("cohort_day", "age")
      .agg(countDistinct("user_id").as("buyers"),
        sum("cents").as("cents"))
    val w = Window.partitionBy("cohort_day").orderBy(col("age").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_cents", sum("cents").over(w))
      .select(col("cohort_day"), col("age"), col("buyers"),
        (col("cents").cast("double") / 100).as("revenue"),
        (col("cum_cents").cast("double") / 100).as("cum_revenue"))
      .orderBy("cohort_day", "age")
  }

  val cohortLtvSql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS DATE) AS day,
      |                  CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
      |p AS (SELECT c.cohort_day, datediff('day', c.cohort_day, e.day) AS age,
      |             e.user_id, e.cents
      |      FROM e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase'),
      |g AS (SELECT cohort_day, age, count(DISTINCT user_id) AS buyers,
      |             CAST(sum(cents) AS BIGINT) AS cents
      |      FROM p GROUP BY cohort_day, age)
      |SELECT cohort_day, age, buyers,
      |       CAST(cents AS DOUBLE) / 100 AS revenue,
      |       CAST(sum(cents) OVER (PARTITION BY cohort_day ORDER BY age
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100
      |         AS cum_revenue
      |FROM g
      |ORDER BY cohort_day, age""".stripMargin

  // --------------------------------------------------------------------
  // Last-touch attribution (event-to-event as-of within one stream)
  // --------------------------------------------------------------------

  private val AttributionWindowUs: Long = 7L * 24 * 3600 * 1000000 // 7 days

  /** LAST-TOUCH ATTRIBUTION: each purchase attributes to the same
    * user's most recent click at or before it, if that click is within
    * 7 days — the conversion-attribution readout every marketing
    * warehouse computes nightly.
    *
    * The [[asofJoinOrders]] MERGE shape applied within ONE stream: no
    * join at all — union is the identity here — just one window pass
    * per user over (ts, kind, event_id) carrying the latest click
    * forward (clicks sort before purchases at equal ts, so a same-
    * instant click attributes). The 7-day staleness rule applies to the
    * CARRIED value afterward, so expired clicks cost a comparison, not
    * a join. One shuffle on user_id, one carried row of state — the
    * same 100 TB story as the as-of join, salting included if a bot
    * user needs it. All micros integer; gap_min derives from the same
    * integer on both engines. */
  def purchaseAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsTs(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("ts"))
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("kind", when(col("event_type") === "click", 0).otherwise(1))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("kind").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("last_click_id",
        last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(when(col("kind") === 0, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .withColumn("fresh",
        col("last_click_ts").isNotNull &&
          col("ts_us") - col("last_click_ts") <= AttributionWindowUs)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("fresh"), col("last_click_id")).as("click_event_id"),
        when(col("fresh"),
          (col("ts_us") - col("last_click_ts")).cast("double") / 60000000d)
          .as("gap_min"),
        col("fresh").as("attributed"))
      .orderBy("event_id")
  }

  val purchaseAttributionSql: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, ts,
       |                  CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind
       |           FROM events
       |           WHERE event_type IN ('click', 'purchase')),
       |c AS (SELECT e.*,
       |             last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
       |               OVER w AS last_click_id,
       |             last_value(CASE WHEN kind = 0 THEN ts_us END IGNORE NULLS)
       |               OVER w AS last_click_ts
       |      FROM e
       |      WINDOW w AS (PARTITION BY user_id
       |                   ORDER BY ts_us, kind, event_id
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT event_id, user_id, ts,
       |       CASE WHEN fresh THEN last_click_id END AS click_event_id,
       |       CASE WHEN fresh THEN CAST(ts_us - last_click_ts AS DOUBLE) / 60000000 END AS gap_min,
       |       fresh AS attributed
       |FROM (SELECT c.*,
       |             last_click_ts IS NOT NULL
       |               AND ts_us - last_click_ts <= $AttributionWindowUs AS fresh
       |      FROM c)
       |WHERE kind = 1
       |ORDER BY event_id""".stripMargin

  private val MtaWindowDays = 7
  private val MtaSaltBins = 8
  private val MtaClicksCap = 0

  /** MULTI-TOUCH (LINEAR) ATTRIBUTION: every click of the user inside
    * the 7-day window before (or at) a purchase shares that purchase's
    * credit equally — the companion readout to [[purchaseAttribution]]
    * (last-touch gives the closer all credit; linear pays the whole
    * path, and marketing teams run both). Output is the full click
    * ledger: touched-purchase count and summed fractional credit per
    * click (zero-credit clicks included — the denominator of any
    * conversion-rate readout).
    *
    * Shape: the [[rangeJoinBursts]] bin decomposition on (user, time
    * bin) — bins are W/S wide (S = `saltBins`, the
    * [[asofJoinOrdersSalted]] range-split applied to an interval join):
    * each purchase probes its ≤ S+1 covering bins, each click lives in
    * exactly ONE bin, so every qualifying pair is found exactly once
    * and the exact interval filter runs after the equi-join — the theta
    * join never leaves hash-join land. The split is the skew bound: a
    * bot user's clicks spread over S join keys, so the worst TASK holds
    * 1/S of the hot user's clicks (r9 verdict #7 — measured in the
    * ScaleProbe skew row) at the price of S/2× more purchase-side probe
    * rows (narrow: 4 longs). Credit is rational with varying
    * denominators, so each 1/n term is micro-integerised BEFORE the
    * per-click sum (the bm25 per-term discipline); n itself rides
    * alongside for exactness audits. Skew note: per-user pair OUTPUT
    * cardinality (clicks × purchases inside the window) is INTRINSIC to
    * multi-touch semantics — a bot user is quadratic in its event
    * share, and the salt only bounds where that intrinsic work lands.
    *
    * `clicksCap` (the SHIPPED bounded mode, r10 verdict #1): cap > 0
    * keeps only the cap MOST RECENT clicks per purchase window (order
    * c_ts DESC, click_event_id DESC — a total order, so both engines
    * keep the identical set; the oracle templates the same rule as a
    * QUALIFY row_number filter). The capped plan REPLACES the bin join
    * entirely (saltBins is moot there): the cap most recent clicks
    * before a purchase are a contiguous run of per-user click sequence
    * numbers, so the [[purchaseAttribution]] merge-window pass assigns
    * them and a purchases·cap sequence-probe equi-join recovers exactly
    * the kept set — O(events + purchases·cap) with NO clicks×purchases
    * stage anywhere (the in-code comment records the two slower shapes
    * this replaced, both probed). At cap = 0 (the registered default)
    * the plan is byte-identical to the uncapped one. Credit semantics
    * under the cap: n is the CAPPED per-purchase click count — credit
    * still sums to ~1e6 micros per purchase, paid to the cap most
    * recent touches (the standard "last-N-touch linear" model). */
  def multiTouchAttribution(spark: SparkSession, sfDir: String,
                            windowDays: Int = MtaWindowDays, saltBins: Int = MtaSaltBins,
                            clicksCap: Int = MtaClicksCap): DataFrame = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    require(saltBins > 0, s"saltBins must be positive, got $saltBins")
    require(clicksCap >= 0, s"clicksCap must be nonnegative, got $clicksCap")
    val W = windowDays.toLong * 24 * 3600 * 1000000
    // bin width W/S: coverage of [p_ts-W, p_ts] by (p_ts-W) DIV wb ..
    // p_ts DIV wb holds for ANY wb, so the salt count never affects the
    // result — only how many join keys a hot user's window spans
    val wb = math.max(1L, W / saltBins)
    val ev = Tables.eventsTs(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_event_id"),
        col("ts_us").as("c_ts"), expr(s"ts_us DIV $wb").as("bin"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts_us").as("p_ts"),
        explode(sequence(expr(s"(ts_us - $W) DIV $wb"), expr(s"ts_us DIV $wb")))
          .as("bin"))
    val pairs =
      if (clicksCap > 0) {
        // CAPPED MODE NEVER ENUMERATES PAIRS. Two discarded shapes, both
        // probed at 2M events / 25% bot share: a row_number window on
        // the pair stream (359 s — sorts all clicks×purchases rows
        // before discarding past the cap) and a partial-merge-bounded
        // typed Aggregator (288 s — O(cap) state, but still streams the
        // full pair volume through object ser/de). The shape that wins
        // is the [[purchaseAttribution]] MERGE pattern generalized to
        // last-N: the cap most recent clicks before a purchase are a
        // CONTIGUOUS run of per-user click sequence numbers, so one
        // union window pass assigns each click its csn (running count;
        // clicks sort before purchases at equal ts, matching c_ts ≤
        // p_ts) and carries each purchase the latest csn; each purchase
        // explodes into ≤ cap (user_id, csn) probes and an equi-join
        // recovers exactly the kept clicks, window-filtered after. Work:
        // one keyed window over events + a purchases·cap equi-join —
        // O(events + purchases·cap), no pair-cardinality stage anywhere.
        // Keep-set = top-cap by (c_ts, click_event_id), identical to the
        // oracle's QUALIFY total order because csn order IS that order.
        val union = ev.filter(col("event_type").isin("click", "purchase"))
          .withColumn("kind",
            when(col("event_type") === "click", 0).otherwise(1))
        val wRun = Window.partitionBy("user_id")
          .orderBy(col("ts_us").asc, col("kind").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val withCsn = union.withColumn("csn",
          sum(when(col("kind") === 0, 1L).otherwise(0L)).over(wRun))
        val clickSeq = withCsn.filter(col("kind") === 0)
          .select(col("user_id"), col("csn"),
            col("event_id").as("click_event_id"), col("ts_us").as("c_ts"))
        val probes = withCsn.filter(col("kind") === 1 && col("csn") >= 1)
          .select(col("user_id"), col("event_id").as("p_id"),
            col("ts_us").as("p_ts"),
            explode(sequence(
              greatest(col("csn") - (clicksCap - 1), lit(1L)), col("csn")))
              .as("csn"))
        probes.join(clickSeq, Seq("user_id", "csn"))
          .filter(col("c_ts") >= col("p_ts") - W)
          .select("p_id", "click_event_id")
      } else
        purch.join(clicks, Seq("user_id", "bin"))
          .filter(col("c_ts") >= col("p_ts") - W && col("c_ts") <= col("p_ts"))
          .select("p_id", "click_event_id")
    val nPer = pairs.groupBy("p_id").agg(count(lit(1)).as("n"))
    val credit = pairs.join(nPer, "p_id")
      .groupBy("click_event_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(floor(lit(1e6) / col("n") + 0.5).cast("long")).as("credit_micros"))
    clicks.select("click_event_id", "user_id")
      .join(credit, Seq("click_event_id"), "left")
      .select(col("click_event_id"), col("user_id"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        (coalesce(col("credit_micros"), lit(0L)).cast("double") / 1e6)
          .as("credit"))
      .orderBy("click_event_id")
  }

  /** Oracle: the plain theta join (DuckDB IEJoin affords it at oracle
    * scale) + identical per-term micro-integerised credit — equality
    * proves the bin decomposition (at ANY salt count) loses/duplicates
    * no pair. clicksCap > 0 templates the same most-recent-cap rule as
    * a QUALIFY row_number filter on the pair CTE; at cap = 0 the
    * rendered string is byte-identical to the registered oracle
    * (ArgsSpec's template(defaults) pin). */
  def multiTouchAttributionSqlFor(windowDays: Int, clicksCap: Int): String = {
    val windowUs = windowDays.toLong * 24 * 3600 * 1000000
    val qualify =
      if (clicksCap > 0)
        s"""
           |          QUALIFY row_number() OVER (PARTITION BY p.p_id
           |            ORDER BY c.c_ts DESC, c.click_event_id DESC) <= $clicksCap""".stripMargin
      else ""
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
       |           FROM events WHERE event_type IN ('click', 'purchase')),
       |c AS (SELECT user_id, event_id AS click_event_id, ts_us AS c_ts
       |      FROM e WHERE event_type = 'click'),
       |p AS (SELECT user_id, event_id AS p_id, ts_us AS p_ts
       |      FROM e WHERE event_type = 'purchase'),
       |pairs AS (SELECT p.p_id, c.click_event_id
       |          FROM p JOIN c ON c.user_id = p.user_id
       |           AND c.c_ts >= p.p_ts - $windowUs
       |           AND c.c_ts <= p.p_ts$qualify),
       |np AS (SELECT p_id, count(*) AS n FROM pairs GROUP BY 1),
       |cr AS (SELECT click_event_id, count(*) AS n_purchases,
       |              CAST(sum(CAST(floor(1e6 / n + 0.5) AS BIGINT)) AS BIGINT)
       |                AS credit_micros
       |       FROM pairs JOIN np USING (p_id) GROUP BY 1)
       |SELECT c.click_event_id, c.user_id,
       |       coalesce(cr.n_purchases, 0) AS n_purchases,
       |       CAST(coalesce(cr.credit_micros, 0) AS DOUBLE) / 1e6 AS credit
       |FROM c LEFT JOIN cr USING (click_event_id)
       |ORDER BY click_event_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // Robust outliers (median absolute deviation)
  // --------------------------------------------------------------------

  /** ROBUST OUTLIER FLAGS per user: |x − median| > 3·1.4826·MAD — the
    * median-absolute-deviation rule that survives the heavy tails and
    * corrupt spikes that wreck [[eventsZscore]]'s mean/σ (one bad
    * telemetry row shifts a mean; it cannot shift a median).
    *
    * Medians are DISCRETE lower medians (the element at rank
    * ⌊(n+1)/2⌋) selected by row_number — no interpolation, so both
    * engines pick the identical cents value and the whole rule stays
    * integer: outlier ⇔ 10000·d > 44478·mad (3·1.4826 in 1e-4 units),
    * with the standard mad = 0 fallback (any deviation flags). Two
    * rank-select passes + two joins, ALL keyed on user_id — each window
    * sorts one user's rows, never the corpus; at 100 TB this
    * distributes by user like the zscore twin. */
  def eventsMadOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsTs(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        Det.cents(col("value")).as("c"))
    val wv = Window.partitionBy("user_id").orderBy(col("c").asc, col("event_id").asc)
    val n = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
    val med = ev.withColumn("rk", row_number().over(wv))
      .join(n, "user_id")
      .filter(col("rk") === expr("(n + 1) DIV 2"))
      .select(col("user_id"), col("c").as("med_c"))
    val dev = ev.join(med, "user_id")
      .withColumn("d", abs(col("c") - col("med_c")))
    val wd = Window.partitionBy("user_id").orderBy(col("d").asc, col("event_id").asc)
    val mad = dev.withColumn("rk", row_number().over(wd))
      .join(n, "user_id")
      .filter(col("rk") === expr("(n + 1) DIV 2"))
      .select(col("user_id"), col("d").as("mad_c"))
    dev.join(mad, "user_id")
      .select(col("event_id"), col("user_id"),
        (col("c").cast("double") / 100).as("value"),
        (col("med_c").cast("double") / 100).as("user_med"),
        (col("mad_c").cast("double") / 100).as("user_mad"),
        when(col("mad_c") === 0, col("d") > 0)
          .otherwise(col("d") * 10000 > col("mad_c") * 44478).as("outlier"))
      .orderBy("event_id")
  }

  val eventsMadOutliersSql: String =
    """WITH e AS (SELECT event_id, user_id,
      |                  CAST(round(value * 100) AS BIGINT) AS c FROM events),
      |n AS (SELECT user_id, count(*) AS n FROM e GROUP BY user_id),
      |rv AS (SELECT e.*, row_number() OVER (PARTITION BY user_id
      |                     ORDER BY c ASC, event_id ASC) AS rk FROM e),
      |med AS (SELECT rv.user_id, rv.c AS med_c FROM rv JOIN n USING (user_id)
      |        WHERE rv.rk = (n.n + 1) // 2),
      |dv AS (SELECT e.event_id, e.user_id, e.c, med.med_c,
      |              abs(e.c - med.med_c) AS d
      |       FROM e JOIN med USING (user_id)),
      |rd AS (SELECT dv.*, row_number() OVER (PARTITION BY user_id
      |                      ORDER BY d ASC, event_id ASC) AS rk FROM dv),
      |mad AS (SELECT rd.user_id, rd.d AS mad_c FROM rd JOIN n USING (user_id)
      |        WHERE rd.rk = (n.n + 1) // 2)
      |SELECT dv.event_id, dv.user_id,
      |       CAST(dv.c AS DOUBLE) / 100 AS value,
      |       CAST(dv.med_c AS DOUBLE) / 100 AS user_med,
      |       CAST(mad.mad_c AS DOUBLE) / 100 AS user_mad,
      |       CASE WHEN mad.mad_c = 0 THEN dv.d > 0
      |            ELSE dv.d * 10000 > mad.mad_c * 44478 END AS outlier
      |FROM dv JOIN mad USING (user_id)
      |ORDER BY event_id""".stripMargin

  /** [[asofJoinOrders]] through the NATIVE operator
    * ([[graft.plans.AsOfJoinPlan]] → AsOfJoinExec — custom logical plan,
    * planner strategy, and physical streaming-merge exec injected via
    * SparkSessionExtensions): one exchange per side on the user key,
    * partition-local (key, time) sorts, then a single-pass merge with
    * O(1) state — no union row inflation, no window carry columns.
    * Same oracle as the composed variants; TemporalNativeSpec also
    * asserts row-identity against [[asofJoinOrders]] directly. */
  def asofJoinNative(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("uid"), col("o_orderdate").as("o_orderdate"))
      .agg(max("o_orderkey").as("o_orderkey"))
    val events = Tables.eventsTs(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    graft.plans.AsOfJoin.asof(
        events, "user_id", "ts",
        orders, "uid", "o_orderdate",
        payloadCols = Seq("o_orderkey", "o_orderdate"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("o_orderkey"),
        // match the composed variant's schema: its union coerces the NTZ
        // order date to timestamp (value-exact under the pinned UTC zone)
        col("o_orderdate").cast("timestamp").as("o_orderdate"))
      .orderBy("event_id")
  }

  /** FORWARD as-of through the native operator — each order matched to
    * the customer's NEXT site event at-or-after the order date ("what
    * did the customer do after ordering"), the attribution direction
    * backward as-of can't express. Same physical shape
    * ([[asofJoinNative]]: one exchange per side, local sorts,
    * single-pass merge); the forward merge PEEKS the sorted right head
    * instead of retaining a consumed row (one head may match many
    * consecutive orders). Right side dedups (user, ts) ties to the
    * max-event_id row so the peeked head is deterministic. Inner join:
    * an order with no later event drops, mirrored by the oracle's
    * inner ASOF with the reversed inequality. */
  def asofJoinNativeFwd(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("timestamp").as("o_orderdate"))
    val events = Tables.eventsTs(spark, sfDir)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(struct(col("event_id"), col("event_type"))).as("r"))
      .select(col("user_id"), col("ts"),
        col("r.event_id").as("event_id"), col("r.event_type").as("event_type"))
    graft.plans.AsOfJoin.asof(
        orders, "o_custkey", "o_orderdate",
        events, "user_id", "ts",
        payloadCols = Seq("event_id", "ts", "event_type"), forward = true)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("event_id"), col("ts").as("event_ts"), col("event_type"))
      .orderBy("o_orderkey")
  }

  /** DuckDB twin of [[asofJoinNativeFwd]] — inner ASOF with the
    * reversed inequality (nearest FOLLOWING right row), the same
    * max-event_id tie dedup on the right. */
  val asofJoinNativeFwdSql: String =
    """WITH ev AS (SELECT user_id, ts, max(event_id) AS event_id,
      |                   arg_max(event_type, event_id) AS event_type
      |            FROM events GROUP BY 1, 2)
      |SELECT o.o_orderkey, o.o_custkey,
      |       CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
      |       ev.event_id, ev.ts AS event_ts, ev.event_type
      |FROM orders o
      |ASOF JOIN ev ON o.o_custkey = ev.user_id
      |            AND CAST(o.o_orderdate AS TIMESTAMP) <= ev.ts
      |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // Daily growth (DAU / new / cumulative uniques)
  // --------------------------------------------------------------------

  /** DAILY GROWTH READOUT: per calendar day — events, DAU (exact
    * distinct users), NEW users (first-ever-seen that day), and the
    * cumulative unique-user count. The growth-dashboard staple, built
    * the scale-safe way: cumulative distinct is NOT a running
    * count-distinct window (state = all users ever seen per window
    * step); it is Σ of new_users via the first-seen trick — min(day)
    * per user is one grouped agg, and the cumsum is an integer sum over
    * the |days|-BOUNDED daily frame, computed as a broadcast self-join
    * of that bounded frame (the [[graft.queries.Relational.nationRevenueYoy]]
    * join-shift discipline — no corpus window, no SinglePartition
    * funnel, and integer sums keep it engine-order-free). */
  def userGrowthDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsTs(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.groupBy("day").agg(
      count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("dau"))
    val news = ev.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val cum = daily.select(col("day"))
      .join(broadcast(news.select(col("day").as("nd"), col("new_users"))),
        col("nd") <= col("day"))
      .groupBy("day").agg(sum("new_users").as("cum_users"))
    daily
      .join(news, Seq("day"), "left")
      .join(cum, Seq("day"))
      .select(col("day"), col("n_events"), col("dau"),
        coalesce(col("new_users"), lit(0L)).as("new_users"), col("cum_users"))
      .orderBy("day")
  }

  /** DAU/WAU STICKINESS — the product-health ratio (what share of the
    * week's users showed up today): per active day, distinct daily
    * users over distinct trailing-7-day users. The rolling distinct is
    * NOT a window (count-distinct over sliding frames re-scans the
    * frame per row): each user-day explodes into the ≤7 future days it
    * keeps the user "weekly-active" for, and one distinct+count per
    * target day recovers exactly the trailing-window cardinality —
    * O(7·user-days), two hash shuffles, no frame re-scan. Days with
    * zero activity are not reported (stickiness is undefined at
    * dau = 0). ppm via ⌊x+0.5⌋ on one exact division. At 100 TB:
    * linear in events, shuffles keyed on (user, day) then (day). */
  def eventsStickiness(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.eventsTs(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(6))).as("k"))
      .select(date_add(col("day"), col("k")).as("day"), col("user_id"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        floor(col("dau").cast("double") * 1e6 / col("wau") + 0.5)
          .cast("long").as("stickiness_ppm"))
      .orderBy("day")
  }

  val eventsStickinessSql: String =
    """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      |            FROM events WHERE user_id IS NOT NULL),
      |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
      |wau AS (SELECT day, count(*) AS wau
      |        FROM (SELECT DISTINCT ud.day + k.k AS day, ud.user_id
      |              FROM ud CROSS JOIN
      |                (SELECT CAST(unnest(generate_series(0, 6)) AS INTEGER)
      |                   AS k) k)
      |        GROUP BY 1)
      |SELECT d.day, d.dau, w.wau,
      |       CAST(floor(CAST(d.dau AS DOUBLE) * 1e6 / w.wau + 0.5) AS BIGINT)
      |         AS stickiness_ppm
      |FROM dau d JOIN wau w USING (day)
      |ORDER BY day""".stripMargin

  /** Minimum gap count before a user's cadence is judged — regularity
    * of a handful of events is noise, not automation. */
  private val BotMinGaps = 20L
  private val BotTopN = 50

  /** BOT-CADENCE DETECTION — inter-arrival regularity: humans arrive
    * bursty (coefficient of variation ≈ 1 for Poisson, higher with
    * sessions); schedulers and replay bots arrive metronomically
    * (cv ≪ 1). Per user with ≥ [[BotMinGaps]] gaps, the readout is
    * the [[BotTopN]] MOST-REGULAR users with `is_bot` = (cv < 0.1) as
    * a column — evaluated as the EXACT integer predicate
    * 100·(n·Σg² − S²) < S² on µs gaps (Σg² in DECIMAL(38,0): g² alone
    * overflows int64 past ~50-day gaps), so the decision boundary
    * never touches a float. Emitting the bottom-k rather than only
    * flagged rows keeps the readout useful on an all-human corpus
    * (this fixture: 50 rows, every is_bot false — the spec injects a
    * metronome and sees the flag flip). cv²_ppm is one fixed-
    * parenthesization division on the same exact inputs. Per-user
    * windows partition by user_id — the natural key; no global
    * ordering anywhere. At 100 TB: one events scan, one (user)-keyed
    * window + agg, bottom-k output. */
  def eventsBotRegularity(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val gaps = Tables.eventsTs(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("g", col("ts_us") - lag("ts_us", 1).over(w))
      .filter(col("g").isNotNull)
    val stats = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"), sum("g").as("s"),
        sum(col("g").cast("decimal(38,0)") * col("g")).as("q"))
      .filter(col("n_gaps") >= BotMinGaps)
    val varN = (col("n_gaps") * col("q") -
      col("s").cast("decimal(38,0)") * col("s")).cast("double")
    val s2 = (col("s").cast("decimal(38,0)") * col("s")).cast("double")
    stats
      .filter(col("s") > 0)
      .select(col("user_id"), (col("n_gaps") + 1).as("n_events"),
        Det.r(col("s").cast("double") / col("n_gaps") / 1e6, 3)
          .as("mean_gap_sec"),
        floor(varN / s2 * 1e6 + 0.5).cast("long").as("cv2_ppm"),
        (lit(100) * (col("n_gaps") * col("q") -
          col("s").cast("decimal(38,0)") * col("s")) <
          col("s").cast("decimal(38,0)") * col("s")).as("is_bot"))
      .orderBy(col("cv2_ppm"), col("user_id"))
      .limit(BotTopN)
  }

  val eventsBotRegularitySql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
       |           FROM events WHERE user_id IS NOT NULL),
       |g AS (SELECT user_id,
       |             ts_us - lag(ts_us) OVER (PARTITION BY user_id
       |               ORDER BY ts_us, event_id) AS g
       |      FROM e),
       |st AS (SELECT user_id, count(*) AS n_gaps,
       |              CAST(sum(g) AS BIGINT) AS s,
       |              sum(CAST(g AS DECIMAL(38,0)) * g) AS q
       |       FROM g WHERE g IS NOT NULL GROUP BY 1
       |       HAVING count(*) >= $BotMinGaps),
       |fl AS (SELECT user_id, n_gaps, s,
       |              CAST(n_gaps * q - CAST(s AS DECIMAL(38,0)) * s
       |                   AS DOUBLE) AS varn,
       |              CAST(CAST(s AS DECIMAL(38,0)) * s AS DOUBLE) AS s2,
       |              100 * (n_gaps * q - CAST(s AS DECIMAL(38,0)) * s)
       |                < CAST(s AS DECIMAL(38,0)) * s AS is_bot
       |       FROM st WHERE s > 0)
       |SELECT user_id, n_gaps + 1 AS n_events,
       |       ${Det.rSql("CAST(s AS DOUBLE) / n_gaps / 1e6", 3)}
       |         AS mean_gap_sec,
       |       CAST(floor(varn / s2 * 1e6 + 0.5) AS BIGINT) AS cv2_ppm,
       |       is_bot
       |FROM fl ORDER BY cv2_ppm, user_id
       |LIMIT $BotTopN""".stripMargin

  /** Max lag priced by [[eventsAutocorr]]. */
  private val AcfMaxLag = 7

  /** DAILY-VOLUME AUTOCORRELATION at lags 1..[[AcfMaxLag]] — the
    * seasonality detector that tells a capacity planner whether the
    * stream has a weekly pulse (acf(7) high) or is memoryless: sample
    * ACF r_k = Σ_{t>k}(x_t−x̄)(x_{t−k}−x̄) / Σ_t(x_t−x̄)² over the
    * DENSE daily-count calendar (gap days count 0 — skipping them
    * would shift every lag). All-integer: with S = Σx over n days,
    * each centered term is the exact integer n·x_t − S, products
    * accumulate in DECIMAL(38,0), and each r_k is one double division,
    * micro-rounded. Lag pairs come from exploding each day's count to
    * its ≤[[AcfMaxLag]] forward (t+k, k) probes and re-joining the
    * calendar — the [[graft.queries.Relational.revenueEwmaAnomaly]]
    * shape, no SinglePartition window. Calendar-bounded end to end
    * after the one corpus scan. */
  def eventsAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.eventsTs(spark, sfDir)
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .as("day"))
      .agg(count(lit(1)).as("x"))
    val bounds = daily.agg(min("day").as("lo"), max("day").as("hi"))
    val cal = bounds
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      .join(daily, Seq("day"), "left")
      .na.fill(0L, Seq("x"))
    // calendar length + total: 2 longs of model state
    val nS = cal.agg(count(lit(1)).as("n"), sum("x").as("s")).head()
    if (nS.getLong(0) == 0) {
      import spark.implicits._
      return Seq.empty[(Int, Long, java.lang.Long)]
        .toDF("lag", "n_days", "acf_ppm")
    }
    val (n, s) = (nS.getLong(0), nS.getLong(1))
    val cen = cal.select(col("day"), (col("x") * n - s).as("c"))
    val denRow = cen.agg(
      sum(col("c").cast("decimal(38,0)") * col("c")).as("d")).head()
    val den = denRow.getDecimal(0)
    val pairs = cen
      .select(col("day"), col("c").as("c_lag"),
        explode(sequence(lit(1), lit(AcfMaxLag))).as("k"))
      .select((col("day") + col("k")).as("day"), col("k"), col("c_lag"))
      .join(cen, Seq("day"))
    pairs.groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("c").cast("decimal(38,0)") * col("c_lag")).as("a"))
      .select(col("k").as("lag"), lit(n).as("n_days"),
        when(lit(den.signum() > 0),
          floor(col("a").cast("double") /
            lit(den).cast("double") * 1e6 + 0.5).cast("long"))
          .as("acf_ppm"))
      .orderBy("lag")
  }

  val eventsAutocorrSql: String =
    s"""WITH d AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
       |                  CAST(ts AS DATE)) AS INTEGER) AS day,
       |                  count(*) AS x
       |           FROM events GROUP BY 1),
       |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
       |cal AS (SELECT CAST(unnest(generate_series(b.lo, b.hi)) AS INTEGER)
       |          AS day FROM b),
       |cf AS (SELECT cal.day, coalesce(d.x, 0) AS x
       |       FROM cal LEFT JOIN d USING (day)),
       |t AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s FROM cf),
       |cen AS (SELECT cf.day, CAST(cf.x * t.n - t.s AS BIGINT) AS c
       |        FROM cf, t),
       |dn AS (SELECT sum(CAST(c AS DECIMAL(38,0)) * c) AS d FROM cen),
       |pr AS (SELECT a.day + k.k AS day, k.k, a.c AS c_lag
       |       FROM cen a CROSS JOIN
       |         (SELECT CAST(unnest(generate_series(1, $AcfMaxLag))
       |                 AS INTEGER) AS k) k)
       |SELECT pr.k AS lag, t.n AS n_days,
       |       CASE WHEN dn.d > 0
       |            THEN CAST(floor(CAST(sum(CAST(cen.c AS DECIMAL(38,0))
       |                                     * pr.c_lag) AS DOUBLE)
       |                            / CAST(dn.d AS DOUBLE) * 1e6 + 0.5)
       |                 AS BIGINT)
       |       END AS acf_ppm
       |FROM pr JOIN cen ON cen.day = pr.day, t, dn
       |GROUP BY pr.k, t.n, dn.d
       |ORDER BY lag""".stripMargin

  /** DuckDB twin of [[userGrowthDaily]]. */
  val userGrowthDailySql: String =
    """WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id
      |           FROM events WHERE user_id IS NOT NULL),
      |d AS (SELECT day, count(*) AS n_events,
      |             count(DISTINCT user_id) AS dau FROM e GROUP BY 1),
      |f AS (SELECT user_id, min(day) AS day FROM e GROUP BY 1),
      |nu AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1),
      |c AS (SELECT d.day, CAST(sum(nu.new_users) AS BIGINT) AS cum_users
      |      FROM d JOIN nu ON nu.day <= d.day GROUP BY d.day)
      |SELECT d.day, d.n_events, d.dau,
      |       COALESCE(nu.new_users, 0) AS new_users, c.cum_users
      |FROM d LEFT JOIN nu ON nu.day = d.day
      |       JOIN c ON c.day = d.day
      |ORDER BY d.day""".stripMargin

  // --------------------------------------------------------------------
  // Behavioral diversity (Simpson index — rational, no libm)
  // --------------------------------------------------------------------

  /** PER-USER BEHAVIORAL DIVERSITY: Simpson's index 1 − Σᵢ(nᵢ/n)² over
    * each user's event-type mix — 0 for a single-behavior user, →1 for
    * an even spread; the engagement-breadth feature scoring/segmentation
    * pipelines attach per user. Simpson, not Shannon, BY DESIGN: the
    * entropy form needs ln (libm — last-ulp engine drift the hash gate
    * can't tolerate, the [[graft.queries.TextAnalysis]] token_pmi
    * lesson) while Simpson is one exact rational: 1 − Σnᵢ²/n². Two
    * grouped aggs sharing the user_id partitioning; Σnᵢ² accumulates in
    * decimal (a bot user's nᵢ² passes Long at 100 TB — the stats_agg
    * law). */
  def userDiversitySimpson(spark: SparkSession, sfDir: String): DataFrame = {
    val byType = Tables.eventsTs(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("ni"))
    byType.groupBy("user_id")
      .agg(sum("ni").as("n"), count(lit(1)).as("n_types"),
        sum(col("ni").cast("decimal(38,0)") * col("ni")).as("ssq"))
      .select(col("user_id"), col("n"), col("n_types"),
        Det.r(lit(1.0) - col("ssq").cast("double") /
          (col("n").cast("double") * col("n")), 6).as("simpson"))
      .orderBy("user_id")
  }

  val userDiversitySimpsonSql: String =
    s"""WITH t AS (SELECT user_id, event_type, count(*) AS ni
       |           FROM events WHERE user_id IS NOT NULL
       |           GROUP BY 1, 2)
       |SELECT user_id, CAST(sum(ni) AS BIGINT) AS n, count(*) AS n_types,
       |       ${Det.rSql(
        "1.0 - CAST(sum(CAST(ni AS DECIMAL(38,0)) * ni) AS DOUBLE) " +
          "/ (CAST(sum(ni) AS DOUBLE) * sum(ni))", 6)} AS simpson
       |FROM t GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------------
  // Winsorized robust metrics
  // --------------------------------------------------------------------

  /** WINSORIZED METRICS: mean/std of event value before and after
    * clamping to the exact [p01, p99] member values — the
    * outlier-robust metric variant every experimentation/monitoring
    * pipeline reports beside the raw mean (one whale purchase moves a
    * raw mean; the winsorized mean says whether the EFFECT survives
    * without it).
    *
    * Cutoffs come from the value-range-bounded cents histogram walked
    * on the driver ([[eventsQuantilesByType]] machinery, global here);
    * the clamp + moments are a second exact-integer scan (clamped cents
    * are ints; Σ, Σ² decimal). Output one row; every double derives
    * from exact ints through one shared expression per engine. */
  def eventsWinsorizedStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.eventsTs(spark, sfDir)
      .filter(col("value").isNotNull && !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity))
      .select(Det.cents(col("value")).as("c"))
    val hist = Hist.bounded(ev.groupBy("c").agg(count(lit(1)).as("cnt")),
        "events_winsorized_stats")
      .map(r => (r.getAs[Long]("c"), r.getAs[Long]("cnt")))
      .sortBy(_._1)
    if (hist.isEmpty)
      return Seq.empty[(Long, Double, Double, Double, Double, Double, Double)]
        .toDF("n", "p01", "p99", "mean_raw", "mean_wins",
          "std_raw", "std_wins")
    def cut(p: Double): Long = hist(Hist.nearestRank(hist.map(_._2), p).index)._1
    val (lo, hi) = (cut(0.01), cut(0.99))
    val w = greatest(least(col("c"), lit(hi)), lit(lo))
    val g = ev.agg(count(lit(1)).as("n"),
      sum("c").as("s"), sum(col("c").cast("decimal(38,0)") * col("c")).as("ss"),
      sum(w).as("sw"),
      sum(w.cast("decimal(38,0)") * w).as("ssw"))
    def m(s: Column) = s.cast("double") / col("n") / 100
    def sd(ss: Column, s: Column) = {
      val varNum = ss.cast("double") * col("n") - s.cast("double") * s
      when(varNum > 0,
        sqrt(varNum / (col("n").cast("double") * col("n"))) / 100)
        .otherwise(lit(0.0))
    }
    g.select(col("n"),
      lit(lo.toDouble / 100).as("p01"), lit(hi.toDouble / 100).as("p99"),
      Det.r(m(col("s")), 4).as("mean_raw"),
      Det.r(m(col("sw")), 4).as("mean_wins"),
      Det.r(sd(col("ss"), col("s")), 4).as("std_raw"),
      Det.r(sd(col("ssw"), col("sw")), 4).as("std_wins"))
  }

  val eventsWinsorizedStatsSql: String = {
    def m(s: String) = s"CAST($s AS DOUBLE) / n / 100"
    def sd(ss: String, s: String) =
      s"CASE WHEN CAST($ss AS DOUBLE) * n - CAST($s AS DOUBLE) * $s > 0 " +
        s"THEN sqrt((CAST($ss AS DOUBLE) * n - CAST($s AS DOUBLE) * $s) " +
        s"/ (CAST(n AS DOUBLE) * n)) / 100 ELSE 0.0 END"
    s"""WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS c
       |           FROM events
       |           WHERE value IS NOT NULL AND isfinite(value)),
       |h AS (SELECT c, count(*) AS cnt FROM e GROUP BY 1),
       |w AS (SELECT c, cnt,
       |             sum(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum,
       |             sum(cnt) OVER () AS n
       |      FROM h),
       |cuts AS (SELECT
       |    (SELECT min(c) FROM w WHERE cum >= ceil(0.01 * n)) AS lo,
       |    (SELECT min(c) FROM w WHERE cum >= ceil(0.99 * n)) AS hi),
       |g AS (SELECT count(*) AS n, sum(c) AS s,
       |             sum(CAST(c AS DECIMAL(38,0)) * c) AS ss,
       |             sum(greatest(least(c, cuts.hi), cuts.lo)) AS sw,
       |             sum(CAST(greatest(least(c, cuts.hi), cuts.lo)
       |                 AS DECIMAL(38,0))
       |                 * greatest(least(c, cuts.hi), cuts.lo)) AS ssw
       |      FROM e, cuts)
       |SELECT g.n,
       |       CAST(cuts.lo AS DOUBLE) / 100 AS p01,
       |       CAST(cuts.hi AS DOUBLE) / 100 AS p99,
       |       ${Det.rSql(m("s"), 4)} AS mean_raw,
       |       ${Det.rSql(m("sw"), 4)} AS mean_wins,
       |       ${Det.rSql(sd("ss", "s"), 4)} AS std_raw,
       |       ${Det.rSql(sd("ssw", "sw"), 4)} AS std_wins
       |FROM g, cuts
       |WHERE g.n > 0""".stripMargin
  }

  // --------------------------------------------------------------------
  // A/B experiment readout (Welch t, lift, SRM guard)
  // --------------------------------------------------------------------

  /** A/B EXPERIMENT READOUT: user_id parity as the assignment, per-user
    * purchase spend as the metric — group means, relative lift, Welch's
    * t statistic, a |t| > 1.96 significance flag, and the
    * sample-ratio-mismatch χ² every experimentation platform runs
    * before trusting the metric at all (an SRM means the assignment is
    * broken and the t-test is meaningless).
    *
    * Determinism: the unit of analysis is the USER (per-user cents
    * totals — exact ints), group moments are exact (Σ, Σ² in decimal),
    * and t/χ²/lift are single identical double expressions per engine
    * ([[Det.r]] r4-rounded outputs; comparisons on the raw doubles).
    * Welch, not pooled: no equal-variance assumption, and the d.o.f.
    * never enters the statistic itself. Shape: one events scan →
    * per-user agg (user-keyed shuffle) → 2-row group agg → 1-row
    * conditional pivot. Users with no purchases count as zero-spend
    * members of their arm (intent-to-treat — dropping them would bias
    * both means upward). */
  def eventsAbTest(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.eventsTs(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(coalesce(sum(when(col("event_type") === "purchase",
        Det.cents(col("value")))), lit(0L)).as("c"))
      .select(col("user_id") % 2 === 0, col("c")).toDF("treat", "c")
    val g = perUser.agg(
      count(when(!col("treat"), 1)).as("n_c"),
      count(when(col("treat"), 1)).as("n_t"),
      coalesce(sum(when(!col("treat"), col("c"))), lit(0L)).as("s_c"),
      coalesce(sum(when(col("treat"), col("c"))), lit(0L)).as("s_t"),
      coalesce(sum(when(!col("treat"),
        col("c").cast("decimal(38,0)") * col("c"))),
        lit(0L).cast("decimal(38,0)")).as("ss_c"),
      coalesce(sum(when(col("treat"),
        col("c").cast("decimal(38,0)") * col("c"))),
        lit(0L).cast("decimal(38,0)")).as("ss_t"))
    def mean(s: Column, n: Column) = s.cast("double") / n / 100
    // sample variance in cents² via exact moments: (Σx² − (Σx)²/n)/(n−1)
    def v(ss: Column, s: Column, n: Column) =
      (ss.cast("double") - s.cast("double") * s / n) / (n - 1)
    val mC = mean(col("s_c"), col("n_c"))
    val mT = mean(col("s_t"), col("n_t"))
    val se = sqrt(v(col("ss_c"), col("s_c"), col("n_c")) / col("n_c") +
      v(col("ss_t"), col("s_t"), col("n_t")) / col("n_t")) / 100
    val t = (mT - mC) / se
    val e = (col("n_c") + col("n_t")).cast("double") / 2
    val chi2 = (col("n_c") - e) * (col("n_c") - e) / e +
      (col("n_t") - e) * (col("n_t") - e) / e
    // degenerate experiment (an arm with < 2 users — incl. the empty
    // corpus): the Welch variance divides by n−1 and the lift by the
    // control mean; drop the keyless row before any ratio runs (both
    // engines emit zero rows — the r9 empty sweep)
    g.filter(col("n_c") > 1 && col("n_t") > 1)
      .select(col("n_c"), col("n_t"),
        Det.r(mC, 4).as("mean_c"), Det.r(mT, 4).as("mean_t"),
        Det.r((mT - mC) / mC * 100, 4).as("lift_pct"),
        Det.r(t, 4).as("t_stat"),
        (abs(t) > 1.96).as("significant"),
        Det.r(chi2, 4).as("srm_chi2"))
  }

  val eventsAbTestSql: String = {
    val mC = "CAST(s_c AS DOUBLE) / n_c / 100"
    val mT = "CAST(s_t AS DOUBLE) / n_t / 100"
    def v(ss: String, s: String, n: String) =
      s"(CAST($ss AS DOUBLE) - CAST($s AS DOUBLE) * $s / $n) / ($n - 1)"
    val se = s"sqrt(${v("ss_c", "s_c", "n_c")} / n_c + " +
      s"${v("ss_t", "s_t", "n_t")} / n_t) / 100"
    val t = s"(($mT) - ($mC)) / ($se)"
    val e = "CAST(n_c + n_t AS DOUBLE) / 2"
    val chi2 = s"(n_c - ($e)) * (n_c - ($e)) / ($e) + " +
      s"(n_t - ($e)) * (n_t - ($e)) / ($e)"
    s"""WITH pu AS (
       |  SELECT user_id % 2 = 0 AS treat,
       |         coalesce(sum(CASE WHEN event_type = 'purchase'
       |                  THEN CAST(round(value * 100) AS BIGINT) END), 0) AS c
       |  FROM events WHERE user_id IS NOT NULL
       |  GROUP BY user_id),
       |g AS (
       |  SELECT count(*) FILTER (WHERE NOT treat) AS n_c,
       |         count(*) FILTER (WHERE treat) AS n_t,
       |         coalesce(sum(c) FILTER (WHERE NOT treat), 0) AS s_c,
       |         coalesce(sum(c) FILTER (WHERE treat), 0) AS s_t,
       |         coalesce(sum(CAST(c AS DECIMAL(38,0)) * c)
       |           FILTER (WHERE NOT treat), 0) AS ss_c,
       |         coalesce(sum(CAST(c AS DECIMAL(38,0)) * c)
       |           FILTER (WHERE treat), 0) AS ss_t
       |  FROM pu)
       |SELECT n_c, n_t,
       |       ${Det.rSql(mC, 4)} AS mean_c,
       |       ${Det.rSql(mT, 4)} AS mean_t,
       |       ${Det.rSql(s"(($mT) - ($mC)) / ($mC) * 100", 4)} AS lift_pct,
       |       ${Det.rSql(t, 4)} AS t_stat,
       |       abs($t) > 1.96 AS significant,
       |       ${Det.rSql(chi2, 4)} AS srm_chi2
       |FROM g WHERE n_c > 1 AND n_t > 1""".stripMargin
  }

  // --------------------------------------------------------------------
  // Erasure-impact audit (right-to-be-forgotten)
  // --------------------------------------------------------------------

  private val ErasureMod = 97L

  /** ERASURE-IMPACT AUDIT: for a deletion cohort (user_id ≡ 0 mod
    * [[ErasureMod]] stands in for the GDPR request list), the row count
    * each table would lose — the blast-radius report every compliance
    * pipeline produces BEFORE running the actual delete, including the
    * indirect fact rows (lineitem reached through the cohort's orders).
    *
    * Shape: the cohort predicate is a pure function of the key (no list
    * to broadcast — a real request list is a small broadcast join,
    * same plan shape); per-table counts are one filtered agg each;
    * lineitem counts through a semi join on the cohort's orderkeys
    * (fact never broadcasts). Output is |tables| rows. */
  def userErasureAudit(spark: SparkSession, sfDir: String,
                       mod: Long = ErasureMod): DataFrame = {
    require(mod > 1, s"mod must be > 1, got $mod")
    def one(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast("long").as("n_rows"))
        .select(lit(name).as("table_name"), col("n_rows"))
    val cohortOrders = Tables.orders(spark, sfDir)
      .filter(col("o_custkey") % mod === 0)
    val events = one("events",
      Tables.eventsTs(spark, sfDir).filter(col("user_id") % mod === 0))
    val customer = one("customer",
      Tables.customer(spark, sfDir).filter(col("c_custkey") % mod === 0))
    val orders = one("orders", cohortOrders)
    val lineitem = one("lineitem",
      Tables.lineitem(spark, sfDir).join(
        cohortOrders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi"))
    events.union(customer).union(orders).union(lineitem)
      .orderBy("table_name")
  }

  val userErasureAuditSql: String =
    s"""SELECT 'events' AS table_name, count(*) AS n_rows FROM events
       |WHERE user_id % $ErasureMod = 0
       |UNION ALL
       |SELECT 'customer', count(*) FROM customer
       |WHERE c_custkey % $ErasureMod = 0
       |UNION ALL
       |SELECT 'orders', count(*) FROM orders
       |WHERE o_custkey % $ErasureMod = 0
       |UNION ALL
       |SELECT 'lineitem', count(*) FROM lineitem l
       |WHERE EXISTS (SELECT 1 FROM orders o
       |              WHERE o.o_orderkey = l.l_orderkey
       |                AND o.o_custkey % $ErasureMod = 0)
       |ORDER BY table_name""".stripMargin

  // --------------------------------------------------------------------
  // Per-group exact quantiles (bounded cents histogram per type)
  // --------------------------------------------------------------------

  private val GroupQPs = Seq(0.5, 0.9, 0.99)

  /** PER-GROUP EXACT QUANTILES: p50/p90/p99 of event value per
    * event_type as exact rank-selected member values (quantile_disc
    * semantics: the smallest value whose cumulative count reaches
    * ⌈p·n⌉) — the per-stream latency/spend percentile readout every
    * telemetry pipeline exports, done WITHOUT a per-group sort of the
    * corpus: values are 2-dp money, so the (type, cents) histogram is
    * bounded by the VALUE RANGE (not the row count); it collects as
    * model state (the [[eventsValueQuantiles]] precedent, one frame per
    * type) and the rank walk runs on the driver. Cross-engine: ranks
    * compare against ⌈p·n⌉ computed with the identical doubles; the
    * selected values are exact cents. */
  def eventsQuantilesByType(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hist = Hist.bounded(Tables.eventsTs(spark, sfDir)
        .filter(col("value").isNotNull && !isnan(col("value")) &&
          abs(col("value")) < lit(Double.PositiveInfinity))
        .select(col("event_type"),
          Det.cents(col("value")).as("c"))
        .groupBy("event_type", "c").agg(count(lit(1)).as("cnt")),
        "events_quantiles_by_type")
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("c"),
        r.getAs[Long]("cnt")))
    val rows = hist.groupBy(_._1).toSeq.flatMap { case (t, cells) =>
      val sorted = cells.sortBy(_._2)
      GroupQPs.map { p =>
        val cut = Hist.nearestRank(sorted.map(_._3), p)
        (t, p, cut.rank, sorted(cut.index)._2.toDouble / 100)
      }
    }
    rows.toDF("event_type", "p", "rank_target", "value")
      .orderBy("event_type", "p")
  }

  val eventsQuantilesByTypeSql: String =
    s"""WITH e AS (SELECT event_type,
       |                  CAST(round(value * 100) AS BIGINT) AS c
       |           FROM events
       |           WHERE value IS NOT NULL AND isfinite(value)),
       |h AS (SELECT event_type, c, count(*) AS cnt FROM e GROUP BY 1, 2),
       |w AS (SELECT event_type, c, cnt,
       |             sum(cnt) OVER (PARTITION BY event_type ORDER BY c
       |               ROWS UNBOUNDED PRECEDING) AS cum,
       |             sum(cnt) OVER (PARTITION BY event_type) AS n
       |      FROM h),
       |ps AS (SELECT unnest([${GroupQPs.mkString(", ")}]) AS p)
       |SELECT w.event_type, ps.p,
       |       CAST(ceil(ps.p * w.n) AS BIGINT) AS rank_target,
       |       CAST(min(w.c) AS DOUBLE) / 100 AS value
       |FROM w CROSS JOIN ps
       |WHERE w.cum >= ceil(ps.p * w.n)
       |GROUP BY 1, 2, CAST(ceil(ps.p * w.n) AS BIGINT)
       |ORDER BY event_type, p""".stripMargin

  // --------------------------------------------------------------------
  // Heavy hitters (Misra–Gries shortlist + exact recount, 2-pass)
  // --------------------------------------------------------------------

  // 150 discriminates on the fixture's ~uniform 150 users (75 qualify,
  // 75 don't — both branches of the HAVING exercised); the MG state
  // bound is k counters per partition regardless
  private val HhK = 150

  /** EXACT HEAVY HITTERS with BOUNDED STATE: users producing more than
    * n/(k+1) of all events, found by the production 2-pass shape — a
    * per-partition Misra–Gries summary of ≤ k counters (pass 1, one
    * mapPartitions with O(k) memory regardless of key cardinality),
    * then an exact recount restricted to the ≤ k·partitions surviving
    * candidates (pass 2, a broadcast semi join + grouped count). The
    * result is EXACTLY the plain `GROUP BY HAVING` answer — the oracle
    * — because any key with global freq > Σnₚ/(k+1) must exceed
    * nₚ/(k+1) in at least one partition (pigeonhole), so the MG
    * guarantee keeps every true hitter in some summary; the recount
    * then discards false candidates with exact counts.
    *
    * Why it exists: a plain groupBy's hash state is |distinct keys| —
    * fine for user ids, fatal for 100 TB of URLs/ngrams. This pins the
    * bounded-state decomposition against the unbounded-state answer.
    * The threshold test is integer (cnt·(k+1) > n) — no division.
    * mapPartitions closure uses only locals (the Similarity
    * serialization lesson). */
  def eventsHeavyHitters(spark: SparkSession, sfDir: String,
                         k: Int = HhK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import spark.implicits._
    val kk = k // local copy: the closure must not capture the query object
    val ev = Tables.eventsTs(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id")).as[Long]
    val n = ev.count()
    val candidates = ev.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[Long, Long]
      it.foreach { u =>
        if (m.contains(u)) m(u) += 1L
        else if (m.size < kk) m(u) = 1L
        else {
          // decrement-all step: snapshot keys, then mutate
          val keys = m.keys.toArray
          keys.foreach { key =>
            val c = m(key) - 1L
            if (c == 0L) m.remove(key) else m(key) = c
          }
        }
      }
      m.keysIterator
    }.toDF("user_id").distinct()
    ev.toDF("user_id")
      .join(broadcast(candidates), "user_id")
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (kk + 1) > n)
      .orderBy(col("cnt").desc, col("user_id"))
  }

  /** Oracle: the unbounded-state answer. */
  def eventsHeavyHittersSqlFor(k: Int): String =
    s"""SELECT user_id, count(*) AS cnt
       |FROM events WHERE user_id IS NOT NULL
       |GROUP BY user_id
       |HAVING count(*) * ${k + 1} > (SELECT count(*) FROM events
       |                                WHERE user_id IS NOT NULL)
       |ORDER BY cnt DESC, user_id""".stripMargin

  // --------------------------------------------------------------------
  // Seasonal decomposition (hour-of-day profile + seasonality index)
  // --------------------------------------------------------------------

  /** The streamable stage of [[eventsSeasonal]]: one grouped agg — runs
    * identically over a batch frame or a complete-mode stream
    * (StreamingSpec proves the parity; windows and second aggs are not
    * streamable, so the finisher below runs over the ≤24·|types| state
    * frame instead). */
  private[graft] def seasonalBase(ev: DataFrame): DataFrame = ev
    .select(col("event_type"), hour(col("ts")).as("hr"),
      Det.cents(col("value")).as("c"))
    .groupBy("event_type", "hr")
    .agg(count(lit(1)).as("n"), sum("c").as("sc"))

  /** Finisher over the bounded profile frame (batch, or a streamed
    * complete-mode state table). */
  private[graft] def seasonalFinish(byHr: DataFrame): DataFrame = byHr
    .withColumn("tot",
      sum("n").over(Window.partitionBy("event_type")))
    .select(col("event_type"), col("hr"), col("n"),
      Det.r(col("sc").cast("double") / col("n") / 100, 4).as("avg_value"),
      Det.r((col("n") * 24).cast("double") / col("tot"), 4).as("idx"))
    .orderBy("event_type", "hr")

  /** HOUR-OF-DAY SEASONALITY: per (event_type, hour) the event count,
    * mean value, and a seasonality index (that hour's share of the
    * type's traffic vs a flat 1/24 baseline — idx 2.0 = "this hour runs
    * at twice the type's average rate"). The capacity-planning /
    * anomaly-baseline readout every event pipeline keeps: residuals
    * against `n/idx` are the deseasonalized series.
    *
    * One corpus scan into a (event_type, hour) grouped agg — the output
    * frame is ≤ 24·|types| rows, bounded model state at ANY corpus
    * size. The per-type totals come from a window over THAT bounded
    * frame (partitioned on event_type — a shuffle of ≤120 rows), never
    * a second corpus scan. Cents-integer value sums; [[Det.r]] final
    * rounding; total (event_type, hr) ordering. */
  def eventsSeasonal(spark: SparkSession, sfDir: String): DataFrame =
    seasonalFinish(seasonalBase(Tables.eventsTs(spark, sfDir)))

  val eventsSeasonalSql: String =
    s"""WITH h AS (SELECT event_type,
       |                  CAST(extract(hour FROM ts) AS INTEGER) AS hr,
       |                  count(*) AS n,
       |                  sum(CAST(round(value * 100) AS BIGINT)) AS sc
       |           FROM events GROUP BY 1, 2)
       |SELECT event_type, hr, n,
       |       ${Det.rSql("CAST(sc AS DOUBLE) / n / 100", 4)} AS avg_value,
       |       ${Det.rSql(
            "CAST(n * 24 AS DOUBLE) / sum(n) OVER (PARTITION BY event_type)", 4)} AS idx
       |FROM h ORDER BY event_type, hr""".stripMargin

  /** DESEASONALIZED ANOMALY ALARMS — the consumer of
    * [[eventsSeasonal]]'s baseline: per (event_type, day, hour) cell,
    * expected = that day's type volume × the hour's seasonality share,
    * and a cell alarms when its Poisson residual exceeds 3σ
    * (resid² > 9·expected — |n−λ| > 3√λ in square form, no sqrt in the
    * gate). Evaluated over the DENSE (type, day)×24 grid, so an hour
    * with ZERO events against a large expectation — the outage shape —
    * alarms rather than silently missing from a sparse group-by. Output
    * is the alarm list only (the on-call artifact; the full baseline is
    * [[eventsSeasonal]]'s).
    *
    * Determinism: expected multiplies an exact integer day-volume by
    * the Det-rounded (exact-decimal) idx and divides by 24 — a fixed
    * IEEE op sequence both engines replay identically; the square-form
    * gate compares products of those same doubles, so engine==oracle
    * needs no rounding at the decision boundary. Scale: two grouped
    * aggs over the corpus (cell and day-volume), a ≤24·|types|-row idx
    * broadcast, the grid explode is |types|·|days|·24 — calendar-
    * bounded; no corpus-wide window. */
  def eventsSeasonalAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsTs(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        hour(col("ts")).as("hr"))
    val cell = ev.groupBy("event_type", "day", "hr").agg(count(lit(1)).as("n"))
    val dayTot = ev.groupBy("event_type", "day").agg(count(lit(1)).as("n_day"))
    val idx = seasonalFinish(seasonalBase(Tables.eventsTs(spark, sfDir)))
      .select(col("event_type"), col("hr"), col("idx"))
    dayTot
      .withColumn("hr", explode(sequence(lit(0), lit(23))))
      .join(cell, Seq("event_type", "day", "hr"), "left")
      .join(broadcast(idx), Seq("event_type", "hr"))
      .withColumn("n0", coalesce(col("n"), lit(0L)))
      .withColumn("expected", col("n_day") * col("idx") / 24)
      .withColumn("resid", col("n0").cast("double") - col("expected"))
      .filter(col("resid") * col("resid") > lit(9.0) * col("expected"))
      .select(col("event_type"), col("day"), col("hr"), col("n0").as("n"),
        Det.r(col("expected"), 4).as("expected"),
        Det.r(col("resid"), 4).as("resid"))
      .orderBy("event_type", "day", "hr")
  }

  val eventsSeasonalAnomalySql: String =
    s"""WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
       |                  CAST(extract(hour FROM ts) AS INTEGER) AS hr
       |           FROM events),
       |h AS (SELECT event_type, hr, count(*) AS n FROM e GROUP BY 1, 2),
       |ix AS (SELECT event_type, hr,
       |              ${Det.rSql(
            "CAST(n * 24 AS DOUBLE) / sum(n) OVER (PARTITION BY event_type)",
            4)} AS idx
       |       FROM h),
       |dt AS (SELECT event_type, day, count(*) AS n_day FROM e GROUP BY 1, 2),
       |cell AS (SELECT event_type, day, hr, count(*) AS n
       |         FROM e GROUP BY 1, 2, 3),
       |x AS (SELECT dt.event_type, dt.day, g.hr,
       |             coalesce(cell.n, 0) AS n,
       |             dt.n_day * ix.idx / 24 AS expected,
       |             CAST(coalesce(cell.n, 0) AS DOUBLE)
       |               - dt.n_day * ix.idx / 24 AS resid
       |      FROM dt
       |      CROSS JOIN (SELECT CAST(unnest(generate_series(0, 23)) AS INTEGER) AS hr) g
       |      LEFT JOIN cell ON cell.event_type = dt.event_type
       |                    AND cell.day = dt.day AND cell.hr = g.hr
       |      JOIN ix ON ix.event_type = dt.event_type AND ix.hr = g.hr)
       |SELECT event_type, day, hr, n,
       |       ${Det.rSql("expected", 4)} AS expected,
       |       ${Det.rSql("resid", 4)} AS resid
       |FROM x
       |WHERE resid * resid > 9.0 * expected
       |ORDER BY event_type, day, hr""".stripMargin

  // --------------------------------------------------------------------
  // SCD2 (type-2 slowly-changing-dimension interval build)
  // --------------------------------------------------------------------

  /** SCD2 HISTORY BUILD: compress each customer's order-status stream
    * into type-2 validity intervals — one row per consecutive run of
    * equal status, with [valid_from, valid_to) bounds and an is_current
    * flag on the open interval. The dimension-table maintenance shape
    * every warehouse runs nightly (Kimball type-2): the engine side is
    * the full gaps-and-islands → run-compress → interval-close chain.
    *
    * Three stages share ONE hash partitioning on o_custkey (lag window,
    * running-sum run_id window, grouped run agg, then the lead window
    * closing intervals — Spark reuses the exchange across all four
    * since each key set refines the last). No broadcast (customer-scaled
    * both sides), no global sort until the final bounded output
    * ordering. run_id restarts per customer so late-arriving history
    * reprocesses per-key, not globally. Determinism: orders sort on
    * (o_orderdate, o_orderkey) — the unique key breaks same-day ties. */
  def scd2OrderStatus(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val runs = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate"))
      .withColumn("chg",
        when(lag("o_orderstatus", 1).over(w).isNull ||
          lag("o_orderstatus", 1).over(w) =!= col("o_orderstatus"), 1L)
          .otherwise(0L))
      .withColumn("run_id",
        sum("chg").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col("o_custkey"), col("run_id"))
      .agg(min("o_orderstatus").as("status"), // constant within a run
        min("o_orderdate").as("valid_from"),
        count(lit(1)).as("n_orders"))
    runs
      .withColumn("valid_to",
        lead("valid_from", 1).over(
          Window.partitionBy("o_custkey").orderBy("run_id")))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("o_custkey"), col("run_id"), col("status"),
        col("valid_from"), col("valid_to"), col("n_orders"),
        col("is_current"))
      .orderBy("o_custkey", "run_id")
  }

  val scd2OrderStatusSql: String =
    """WITH s AS (
      |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
      |         CASE WHEN lag(o_orderstatus) OVER w IS NULL
      |                OR lag(o_orderstatus) OVER w <> o_orderstatus
      |              THEN 1 ELSE 0 END AS chg
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |               ORDER BY o_orderdate, o_orderkey)),
      |r AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
      |                ORDER BY o_orderdate, o_orderkey
      |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
      |  FROM s),
      |g AS (
      |  SELECT o_custkey, run_id, min(o_orderstatus) AS status,
      |         min(o_orderdate) AS valid_from, count(*) AS n_orders
      |  FROM r GROUP BY 1, 2)
      |SELECT o_custkey, run_id, status, valid_from,
      |       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
      |         AS valid_to,
      |       n_orders,
      |       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
      |         IS NULL AS is_current
      |FROM g
      |ORDER BY o_custkey, run_id""".stripMargin

  /** Daily active users via [[graft.functions.BitmapDistinct]] — the
    * bitmap-accelerated exact distinct (registered through
    * SparkSessionExtensions; also callable as `bitmap_distinct(...)` in
    * SQL). Semantically identical to count(DISTINCT user_id) — the
    * oracle IS count(DISTINCT) — but the partial aggregate state is a
    * fixed-size bitmap instead of a per-group value set: shuffle bytes
    * are O(id_domain/8) per (group, partition) regardless of event
    * count, merge is a word-wise OR (order-independent, so the exact
    * count is hash-gateable under any partitioning), and a second
    * distinct in the same agg would not trigger Expand. The bounded-
    * domain contract (ids < 2²⁶) fails self-announcingly; unbounded
    * domains route to HLL (approx_distinct_parts) — the documented
    * operator split. */
  def eventsUserBitmapDaily(spark: SparkSession, sfDir: String): DataFrame =
    Tables.eventsTs(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(graft.functions.BitmapDistinct.bitmap_distinct(col("user_id"))
          .as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("day")

  val eventsUserBitmapDailySql: String =
    """SELECT CAST(ts AS DATE) AS day,
      |       count(DISTINCT user_id) AS n_users,
      |       count(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("events_user_bitmap_daily", eventsUserBitmapDailySql)(eventsUserBitmapDaily),
    // native-operator variant claims row-identity with the composed
    // as-of forms — all three share one oracle, enforced by the hash gate
    Query("asof_join_native", asofJoinNativeSql)(asofJoinNative),
    Query("asof_join_native_fwd", asofJoinNativeFwdSql)(asofJoinNativeFwd),
    Query("user_growth_daily", userGrowthDailySql)(userGrowthDaily),
    Query("events_stickiness", eventsStickinessSql)(eventsStickiness),
    Query("events_bot_regularity", eventsBotRegularitySql)(eventsBotRegularity),
    Query("events_autocorr", eventsAutocorrSql)(eventsAutocorr),
    Query.templated("events_heavy_hitters",
        a => eventsHeavyHittersSqlFor(a.int("k", HhK))) { (s, d, a) =>
      eventsHeavyHitters(s, d, a.int("k", HhK)) },
    Query("events_quantiles_by_type", eventsQuantilesByTypeSql)(eventsQuantilesByType),
    Query("user_erasure_audit", userErasureAuditSql)(userErasureAudit(_, _)),
    Query("events_ab_test", eventsAbTestSql)(eventsAbTest),
    Query("events_winsorized_stats", eventsWinsorizedStatsSql)(eventsWinsorizedStats),
    Query("user_diversity_simpson", userDiversitySimpsonSql)(userDiversitySimpson),
    Query("events_seasonal", eventsSeasonalSql)(eventsSeasonal),
    Query("events_seasonal_anomaly", eventsSeasonalAnomalySql)(eventsSeasonalAnomaly),
    Query("scd2_order_status", scd2OrderStatusSql)(scd2OrderStatus),
    Query("events_funnel", eventsFunnelSql)(eventsFunnel),
    Query("asof_join_orders", asofJoinOrdersSql)(asofJoinOrders),
    // same oracle as the single-pass variant BY DESIGN: the decomposition
    // claims row-identical output, and the hash gate enforces it
    Query.args("asof_join_orders_salted", asofJoinOrdersSql) { (s, d, a) =>
      asofJoinOrdersSalted(s, d, a.int("salts", AsofSalts)) },
    Query("json_events", jsonEventsSql)(jsonEvents),
    Query("stratified_sample", stratifiedSampleSql)(stratifiedSample),
    Query("split_assign", splitAssignSql)(splitAssign),
    Query("event_transitions", eventTransitionsSql)(eventTransitions),
    Query.templated("group_sample", a => groupSampleSqlFor(a.int("k", SampleK))) { (s, d, a) =>
      groupSample(s, d, a.int("k", SampleK)) },
    Query("user_retention", userRetentionSql)(userRetention),
    Query.templated("events_rolling_24h",
        a => eventsRolling24hSqlFor(a.int("window_hours", RollingHours))) { (s, d, a) =>
      eventsRolling24h(s, d, a.int("window_hours", RollingHours)) },
    Query("events_pivot_daily", eventsPivotDailySql)(eventsPivotDaily),
    Query("events_zscore", eventsZscoreSql)(eventsZscore),
    Query("session_paths", sessionPathsSql)(sessionPaths),
    Query.args("events_cms_topk", eventsCmsTopkSql) { (s, d, a) =>
      eventsCmsTopk(s, d, a.int("top_n", CmsTopN)) },
    Query("events_value_quantiles", eventsValueQuantilesSql)(eventsValueQuantiles),
    Query("events_gap_fill", eventsGapFillSql)(eventsGapFill),
    Query("range_join_bursts", rangeJoinBurstsSql)(rangeJoinBursts),
    Query("interval_union", intervalUnionSql)(intervalUnion),
    Query("events_mad_outliers", eventsMadOutliersSql)(eventsMadOutliers),
    Query("purchase_attribution", purchaseAttributionSql)(purchaseAttribution),
    Query.templated("multi_touch_attribution",
        a => multiTouchAttributionSqlFor(a.int("window_days", MtaWindowDays),
        a.int("clicks_cap", MtaClicksCap))) { (s, d, a) =>
      multiTouchAttribution(s, d, a.int("window_days", MtaWindowDays),
          a.int("salt_bins", MtaSaltBins), a.int("clicks_cap", MtaClicksCap)) },
    Query("cohort_ltv", cohortLtvSql)(cohortLtv),
  )
}
