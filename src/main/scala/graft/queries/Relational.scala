package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Query, Substrate, Tables}
import graft.Query.ArgOps
import Det.cents

/** Relational core over the star-schema fixtures.
  *
  * The reference (SURVEY.md §2.4) ships NO joins / windows / set ops /
  * rollup — its users would hand-roll each of these as a (mapper, reducer)
  * pair through the fixed pipeline. This module is the declarative Spark
  * equivalent of that whole space, one query per capability, each with a
  * DuckDB oracle twin.
  *
  * Determinism discipline (the driver hash-compares values after sorting
  * columns by name): money columns in the fixtures are exact 2-decimal
  * doubles, so every money aggregate is integerised to cents (exact int64 /
  * decimal arithmetic, order-independent) and only converted back to double
  * by a single identical final division on both engines. Floating sums of
  * raw doubles would be summation-order-dependent and could flip a rounded
  * digit. Every query ends in a total ORDER BY over a unique key set, since
  * the driver compares rows positionally.
  *
  * Scale notes (100 TB target):
  *  - dimension joins (region/nation/supplier/part) are explicit
  *    `broadcast()` — no shuffle of the fact table for dim enrichment;
  *  - fact-fact joins (orders⋈lineitem) shuffle on the join key once and
  *    AQE handles skew; at warehouse scale these tables would be bucketed
  *    by orderkey at write time, which Spark picks up automatically;
  *  - windows partition by high-cardinality keys (custkey) — no global
  *    sort, no single-partition funnel;
  *  - aggregates are partial (map-side) by construction via groupBy;
  *  - cents-as-long sums: at 100 TB use decimal(38,0) to dodge int64
  *    overflow — kept as sum over LongType here where sf0.1 maxes ~1e15,
  *    with the decimal variant noted per query.
  */
object Relational {

  /** Net line revenue in cents·percent (×10⁴ dollars):
    * cents(l_extendedprice)·(100 − discount%), TPC-H's
    * `extendedprice·(1 − discount)` in exact integers. */
  private def netRevE4: Column =
    cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount")))

  // --------------------------------------------------------------------
  // Aggregation
  // --------------------------------------------------------------------

  /** TPC-H Q1-shaped pricing summary over lineitem (hash agg, partial+final,
    * no join). disc_price = ext*(1-disc); charge = ext*(1-disc)*(1+tax) —
    * computed exactly in integer cents×pct units, divided back once.
    *
    * Product sums accumulate in decimal(38,0), not long: each TERM fits a
    * long (cents·pct² ≤ ~10¹¹), but a per-group Σ reaches ~10²² at 100 TB
    * — past Long.MaxValue, where ANSI mode would kill the job (the 10×
    * relational probe caught exactly this on stats_agg's Σx²). DuckDB's
    * BIGINT sums already widen to HUGEINT, so the oracle is unchanged;
    * plain cents sums stay long (≈20× headroom per group at 100 TB,
    * noted here deliberately rather than paying decimal agg cost). */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice")).as("price_c"),
        cents(col("l_discount")).as("disc_p"),
        cents(col("l_tax")).as("tax_p"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("qty").as("sum_qty"),
        (sum("price_c").cast("double") / 100).as("sum_base_price"),
        (sum((col("price_c") * (lit(100) - col("disc_p")))
          .cast("decimal(38,0)")).cast("double") / 10000)
          .as("sum_disc_price"),
        (sum((col("price_c") * (lit(100) - col("disc_p")) * (lit(100) + col("tax_p")))
          .cast("decimal(38,0)")).cast("double") / 1000000).as("sum_charge"),
        (sum("qty").cast("double") / count(lit(1))).as("avg_qty"),
        (sum("price_c").cast("double") / count(lit(1)) / 100).as("avg_price"),
        (sum("disc_p").cast("double") / count(lit(1)) / 100).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(qty) AS BIGINT) AS sum_qty,
      |       CAST(sum(price_c) AS DOUBLE)/100 AS sum_base_price,
      |       CAST(sum(price_c*(100-disc_p)) AS DOUBLE)/10000 AS sum_disc_price,
      |       CAST(sum(price_c*(100-disc_p)*(100+tax_p)) AS DOUBLE)/1000000 AS sum_charge,
      |       CAST(sum(qty) AS DOUBLE)/count(*) AS avg_qty,
      |       CAST(sum(price_c) AS DOUBLE)/count(*)/100 AS avg_price,
      |       CAST(sum(disc_p) AS DOUBLE)/count(*)/100 AS avg_disc,
      |       count(*) AS count_order
      |FROM (SELECT l_returnflag, l_linestatus,
      |             CAST(l_quantity AS BIGINT) AS qty,
      |             CAST(round(l_extendedprice*100) AS BIGINT) AS price_c,
      |             CAST(round(l_discount*100) AS BIGINT) AS disc_p,
      |             CAST(round(l_tax*100) AS BIGINT) AS tax_p
      |      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01')
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Exact distinct aggregation (reference's E7 `set()` generalized):
    * distinct parts + suppliers per return flag. Spark rewrites
    * count(distinct) into a two-phase expand+agg — still one logical pass. */
  def distinctAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val distinctAggSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ROLLUP over (order year, priority): hierarchical subtotals — the
    * full-relational ancestor of the reference's E8 multi-key fan-out.
    * Single shuffle via Expand, not one scan per grouping. */
  def rollupOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(year(col("o_orderdate")).as("o_year"),
        col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_c"))
      .rollup("o_year", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        (sum("price_c").cast("double") / 100).as("revenue"))
      .orderBy(col("o_year").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val rollupOrdersSql: String =
    """SELECT year(o_orderdate) AS o_year, o_orderpriority,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 AS revenue
      |FROM orders
      |GROUP BY ROLLUP (o_year, o_orderpriority)
      |HAVING count(*) > 0
      |ORDER BY o_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin
  // ^ HAVING: on EMPTY input the SQL standard (and DuckDB) still emit
  // the () grand-total row with n=0, but Spark's cube/rollup emit zero
  // rows — the guard pins both engines to the zero-rows contract and is
  // vacuous on any non-empty input (every grouping-set row counts >= 1)

  /** CUBE over (status, priority): all 4 grouping combinations in one
    * Expand+shuffle (completes the grouping family: GROUPING SETS in
    * multikey_counts, ROLLUP above). */
  def cubeOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_c"))
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        (sum("price_c").cast("double") / 100).as("revenue"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val cubeOrdersSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 AS revenue
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |HAVING count(*) > 0
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin
  // ^ HAVING: same empty-input grand-total-row alignment as rollup_orders

  /** GROUPING SETS proper — the arbitrary-sets aggregation rollup and
    * cube can't express: ((status, priority), (priority), ()) is not a
    * rollup prefix chain (no (status) set) and not the full cube
    * lattice. `grouping()` flags disambiguate aggregation NULLs from
    * (hypothetical) data NULLs on both engines. Same single-shuffle
    * Expand-based plan as rollup/cube; the empty-input grand-total row
    * is aligned the same HAVING way. */
  def groupingSetsOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_c"))
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n_orders"),
        (sum("price_c").cast("double") / 100).as("revenue"))
      .select("o_orderstatus", "o_orderpriority", "g_status", "g_priority",
        "n_orders", "revenue")
      .orderBy(col("g_status").asc, col("g_priority").asc,
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val groupingSetsOrdersSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 AS revenue
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderpriority), ())
      |HAVING count(*) > 0
      |ORDER BY g_status ASC, g_priority ASC,
      |         o_orderstatus ASC NULLS FIRST,
      |         o_orderpriority ASC NULLS FIRST""".stripMargin
  // ^ HAVING: same empty-input grand-total-row alignment as rollup_orders

  /** Exact interpolated percentiles (median / p90) over integer cents —
    * integer samples keep the interpolation arithmetic identical across
    * engines (Spark `percentile` and DuckDB `quantile_cont` share the
    * p·(n-1) linear-interpolation definition). */
  def percentilePrices(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), cents(col("o_totalprice")).as("price_c"))
      .groupBy("o_orderpriority")
      .agg(
        Det.r(expr("percentile(price_c, 0.5D)") / 100, 4).as("median_price"),
        Det.r(expr("percentile(price_c, 0.9D)") / 100, 4).as("p90_price"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  val percentilePricesSql: String =
    """SELECT o_orderpriority,
      |       CAST(floor((quantile_cont(price_c, 0.5) / 100) * 10000 + 0.5) AS DOUBLE)/10000 AS median_price,
      |       CAST(floor((quantile_cont(price_c, 0.9) / 100) * 10000 + 0.5) AS DOUBLE)/10000 AS p90_price,
      |       count(*) AS n_orders
      |FROM (SELECT o_orderpriority, CAST(round(o_totalprice*100) AS BIGINT) AS price_c
      |      FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Statistical aggregates (mean/variance/stddev) from EXACT integer
    * sums: var = (n·Σx² − (Σx)²) / n², stddev = sqrt(var) — one double
    * division + sqrt over exact int128-range numerators, so results are
    * bit-identical across engines (a streaming/Welford stddev would not
    * be: its accumulation order varies with partitioning). Population
    * variance. Σx² ACCUMULATES in decimal(38,0) — each x² fits a long
    * but the sum was within 7% of Long.MaxValue at sf0.1 and the 10×
    * relational probe overflowed it under ANSI (the cast used to sit
    * outside the sum, which is too late); DuckDB widens to HUGEINT, so
    * the oracle was always exact. */
  def statsAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("x"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      .select(col("l_returnflag"), col("n"),
        (col("sx").cast("double") / col("n") / 100).as("mean_price"),
        Det.r(sqrt((col("sxx").cast("double") * col("n") - col("sx").cast("double") * col("sx"))
          / (col("n").cast("double") * col("n"))) / 100, 4).as("stddev_price"))
      .orderBy("l_returnflag")

  val statsAggSql: String =
    """SELECT l_returnflag, n,
      |       CAST(sx AS DOUBLE) / n / 100 AS mean_price,
      |       CAST(floor((sqrt((CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |                        / (CAST(n AS DOUBLE) * n)) / 100) * 10000 + 0.5) AS DOUBLE) / 10000
      |         AS stddev_price
      |FROM (SELECT l_returnflag, count(*) AS n,
      |             sum(x) AS sx, sum(x * x) AS sxx
      |      FROM (SELECT l_returnflag,
      |                   CAST(round(l_extendedprice*100) AS BIGINT) AS x
      |            FROM lineitem)
      |      GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------------
  // Joins
  // --------------------------------------------------------------------

  /** TPC-H Q5-shaped regional revenue: lineitem⋈orders (fact-fact, shuffle
    * on orderkey) enriched by broadcast supplier/customer/nation/region,
    * with the Q5 "local supplier" condition s_nationkey = c_nationkey. */
  def regionalRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        netRevE4.as("rev_e4"))
    val ord = Tables.orders(spark, sfDir)
      // written as year()==1998 on purpose: graft.plans.YearPredicateRewrite
      // turns it into the pushable half-open range (verified to reach
      // PushedFilters in YearRewriteSpec) — users get row-group pruning
      // without hand-writing range predicates
      .filter(year(col("o_orderdate")) === 1998)
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    val supp = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg((sum(col("rev_e4").cast("decimal(38,0)")).cast("double") / 10000).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("region", "nation")
  }

  val regionalRevenueSql: String =
    """SELECT r_name AS region, n_name AS nation,
      |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000 AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey AND year(o_orderdate) = 1998
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY region, nation""".stripMargin

  /** Left outer join + agg: per market segment, customers vs customers
    * with orders vs order count vs spend. NULL-preserving outer side. */
  def customerOrderStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
          .select(col("o_custkey"), cents(col("o_totalprice")).as("price_c")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        countDistinct(when(col("o_custkey").isNotNull, col("c_custkey")))
          .as("n_buying_customers"),
        count(col("o_custkey")).as("n_orders"),
        coalesce(sum("price_c"), lit(0L)).as("spend_c"))
      .withColumn("total_spend", col("spend_c").cast("double") / 100)
      .drop("spend_c")
      .orderBy("c_mktsegment")

  val customerOrderStatsSql: String =
    """SELECT c_mktsegment,
      |       count(DISTINCT c_custkey) AS n_customers,
      |       count(DISTINCT CASE WHEN o_custkey IS NOT NULL THEN c_custkey END) AS n_buying_customers,
      |       count(o_custkey) AS n_orders,
      |       CAST(coalesce(sum(CAST(round(o_totalprice*100) AS BIGINT)), 0) AS DOUBLE)/100 AS total_spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Left-semi join: orders having ≥1 heavy lineitem (EXISTS shape).
    * Semi joins carry no payload from the right side — cheapest existence
    * check, and broadcastable when the filtered right side is small. */
  def semiJoinHeavyOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir)
          .filter(col("l_quantity") > 45).select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy("o_orderkey")

  val semiJoinHeavyOrdersSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders WHERE EXISTS (
      |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |ORDER BY o_orderkey""".stripMargin

  /** Left-anti join: customers with no URGENT orders (NOT EXISTS shape;
    * the right side is filtered before the join so the anti probe is
    * small — and the filter non-vacuously keeps ~1-2% of customers). */
  def antiJoinIdleCustomers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")

  val antiJoinIdleCustomersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer WHERE NOT EXISTS (
      |  SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                          AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------------
  // Windows
  // --------------------------------------------------------------------

  /** Per-customer top-3 orders by price (row_number ranking; deterministic
    * tiebreak on orderkey). Partition by custkey — scales with customers,
    * no global sort. */
  def windowTopOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, sfDir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rnk")
  }

  val windowTopOrdersSql: String =
    """SELECT o_custkey, rnk, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |             row_number() OVER (PARTITION BY o_custkey
      |                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      |      FROM orders)
      |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin

  /** Running cumulative spend per customer over order history — explicit
    * frame (UNBOUNDED PRECEDING..CURRENT ROW), exact cents arithmetic. */
  def windowRunningSpend(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .withColumn("cum_c", sum(cents(col("o_totalprice"))).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        (col("cum_c").cast("double") / 100).as("cum_spend"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  val windowRunningSpendSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
      |              OVER (PARTITION BY o_custkey
      |                    ORDER BY o_orderdate ASC, o_orderkey ASC
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/100
      |         AS cum_spend
      |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** lag(): days since the customer's previous order. */
  def windowOrderGaps(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(spark, sfDir)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        datediff(col("o_orderdate"), col("prev_date")).as("gap_days"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  val windowOrderGapsSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |       CAST(date_diff('day',
      |              lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
      |                                        ORDER BY o_orderdate ASC, o_orderkey ASC),
      |              o_orderdate) AS INTEGER) AS gap_days
      |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // Top-k, set ops, distinct, scalar battery
  // --------------------------------------------------------------------

  /** Global top-10 revenue parts: broadcast dim join + agg + TakeOrdered.
    * Spark plans orderBy+limit as TakeOrderedAndProject — per-partition
    * top-k then driver merge of k×partitions rows, never a full sort. */
  def topPartsByRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
        netRevE4.as("rev_e4"))
      .groupBy("l_partkey")
      .agg((sum(col("rev_e4").cast("decimal(38,0)")).cast("double") / 10000).as("revenue"),
        count(lit(1)).as("n_lines"))
    li.join(broadcast(Tables.part(spark, sfDir).select("p_partkey", "p_name", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("revenue"), col("n_lines"))
      .orderBy(col("revenue").desc, col("p_partkey").asc)
      .limit(10)
  }

  val topPartsByRevenueSql: String =
    """SELECT p_partkey, p_name, p_brand,
      |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000 AS revenue,
      |       count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_partkey, p_name, p_brand
      |ORDER BY revenue DESC, p_partkey ASC LIMIT 10""".stripMargin

  /** UNION / INTERSECT / EXCEPT in one result: nations by whether they
    * have customers and/or suppliers, tagged by set operation. */
  def setOpsNations(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    def names(df: DataFrame, key: String): DataFrame =
      df.select(col(key).as("n_nationkey")).distinct()
        .join(broadcast(nat), "n_nationkey").select("n_name")
    val cust = names(Tables.customer(spark, sfDir), "c_nationkey")
    val supp = names(Tables.supplier(spark, sfDir), "s_nationkey")
    cust.union(supp).distinct().withColumn("op", lit("union"))
      .unionByName(cust.intersect(supp).withColumn("op", lit("intersect")))
      .unionByName(cust.except(supp).withColumn("op", lit("except")))
      .select("op", "n_name")
      .orderBy("op", "n_name")
  }

  val setOpsNationsSql: String =
    """WITH cust AS (SELECT DISTINCT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |     supp AS (SELECT DISTINCT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)
      |SELECT 'union' AS op, n_name FROM (SELECT n_name FROM cust UNION SELECT n_name FROM supp)
      |UNION ALL
      |SELECT 'intersect' AS op, n_name FROM (SELECT n_name FROM cust INTERSECT SELECT n_name FROM supp)
      |UNION ALL
      |SELECT 'except' AS op, n_name FROM (SELECT n_name FROM cust EXCEPT SELECT n_name FROM supp)
      |ORDER BY op, n_name""".stripMargin

  /** DISTINCT projection: the catalogue of (brand, type) combinations. */
  def distinctPartKinds(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select("p_brand", "p_type").distinct()
      .orderBy("p_brand", "p_type")

  val distinctPartKindsSql: String =
    "SELECT DISTINCT p_brand, p_type FROM part ORDER BY p_brand, p_type"

  /** Scalar function battery — date/string/math built-ins in one
    * deterministic row-wise pass (everything codegen'd, no UDFs). */
  def scalarBattery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        datediff(lit("2026-01-01").cast("timestamp"), col("o_orderdate")).as("age_days"),
        upper(col("o_orderstatus")).as("status_u"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
        length(col("o_orderpriority")).as("prio_len"),
        (cents(col("o_totalprice")) % 97).as("price_mod97"),
        floor(col("o_totalprice")).cast("long").as("price_floor"),
        ceil(col("o_totalprice")).cast("long").as("price_ceil"))
      .orderBy("o_orderkey")

  val scalarBatterySql: String =
    """SELECT o_orderkey,
      |       year(o_orderdate) AS y, month(o_orderdate) AS m,
      |       day(o_orderdate) AS d, quarter(o_orderdate) AS q,
      |       CAST(date_diff('day', o_orderdate, TIMESTAMP '2026-01-01') AS INTEGER) AS age_days,
      |       upper(o_orderstatus) AS status_u,
      |       substring(o_orderpriority, 1, 1) AS prio_code,
      |       concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
      |       length(o_orderpriority) AS prio_len,
      |       CAST(round(o_totalprice*100) AS BIGINT) % 97 AS price_mod97,
      |       CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
      |       CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil
      |FROM orders ORDER BY o_orderkey""".stripMargin

  private val ApproxDistinctRsd = 0.015

  /** HLL approximate distinct, bound-checked: the HLL estimate itself is
    * engine-specific (DuckDB cannot reproduce Spark's sketch), so instead
    * of going oracle-less the query emits the exact distinct count plus a
    * `within_rsd` boolean asserting |approx − exact| ≤ 3·rsd·exact; the
    * DuckDB twin computes the exact columns and pins the boolean TRUE,
    * moving the error bound INSIDE the driver's hash gate. rsd 1.5% ≙
    * ~2^12 HLL registers; 3×rsd is a ≈99.7% band, and on the fixtures
    * the observed error is well under 1×. The exact count_distinct leg is
    * the verification harness, not the production shape — at 100 TB a
    * user runs [[approxDistinctPartsRaw]] (one partial-aggregating scan,
    * sketch-sized shuffle) and skips the exact leg entirely.
    *
    * r13 OPTIMIZATION (the [[tableProfileApprox]] lesson applied here):
    * an HLL riding the SAME aggregate as an exact `count_distinct` lands
    * on the multi-distinct Expand's partial pass, which groups by
    * (l_returnflag, l_partkey, gid) — an ~8 KB HLL buffer per PARTIAL
    * GROUP (≈|flag×part| of them) allocated and shipped into the
    * exchange. Splitting the HLL into its own Expand-free aggregate
    * (|flags| buffers total) and broadcast-joining the two |flags|-row
    * frames computes the identical output: 3.5 → 1.1 s at sf0.1 (same-window
    * A/B; round-start bench entry 2.7 s). */
  def approxDistinctParts(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val exact = li.groupBy("l_returnflag")
      .agg(count_distinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("n_rows"))
    val hll = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), ApproxDistinctRsd).as("approx"))
    exact.join(broadcast(hll), "l_returnflag")
      .select(col("l_returnflag"), col("n_rows"), col("exact_parts"),
        (abs(col("approx") - col("exact_parts")) <=
          lit(3 * ApproxDistinctRsd) * col("exact_parts")).as("within_rsd"))
      .orderBy("l_returnflag")
  }

  /** The production shape: HLL only, no exact leg (see
    * [[approxDistinctParts]]'s scaladoc). Spec-checked in RelationalSpec. */
  def approxDistinctPartsRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), ApproxDistinctRsd).as("approx_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val approxDistinctPartsSql: String =
    """SELECT l_returnflag,
      |       count(*) AS n_rows,
      |       count(DISTINCT l_partkey) AS exact_parts,
      |       TRUE AS within_rsd
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  private val AffinityTopN = 50
  private val AffinityMaxBasket = 256

  /** Market-basket part affinity: the top co-ordered part pairs with
    * support counts — the classic co-occurrence analytic. NOT the
    * textbook self-join: Spark does not reuse the distinct exchange
    * across a re-aliased self-join (verified — both sides scan and
    * shuffle the corpus), so the baskets are built ONCE per order
    * (collect_list over distinct (order, part), state bounded by basket
    * size) and the unordered pairs are emitted by an indexed loop over
    * the sorted list — each pair exactly once (sorted ⇒ a < b).
    *
    * BASKET CAP (the skew guard): one adversarial mega-order with k
    * distinct parts emits k²/2 pairs FROM A SINGLE TASK — a 100k-part
    * order is 5·10⁹ pairs, one executor's memory and the stage's
    * wall-clock. The sorted basket is therefore sliced to its first
    * `maxBasket` parts (ascending partkey — deterministic, engine-
    * reproducible) before pairing, bounding per-row fan-out at
    * C(maxBasket, 2) ≈ 32k pairs. A basket that size is data corruption
    * or bot traffic, not co-purchase signal — the cap loses only pairs
    * whose support evidence was already suspect. TPC-H-shaped orders
    * hold ~4 lines, so the default cap is invisible at every fixture
    * and probe scale; the DuckDB oracle applies the IDENTICAL cap via
    * a per-order partkey rank so both engines verify capped semantics.
    * One scan, one shuffle per aggregation level, top-N via
    * TakeOrderedAndProject (never a global sort). */
  def partAffinity(spark: SparkSession, sfDir: String,
                   topN: Int = AffinityTopN,
                   maxBasket: Int = AffinityMaxBasket): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    require(maxBasket > 1, s"maxBasket must be > 1, got $maxBasket")
    // pair emission (inside the shared weighted-edge sink) is a typed
    // flatMap KERNEL, not nested higher-order functions:
    // transform/slice/flatten sit outside whole-stage codegen and
    // allocate O(k²) arrays per basket — measured 80 s vs 30 s at 30×
    // (18M lineitem) against the tight two-index loop. The pair-count
    // frame IS the shared weighted edge set, so the whole graph family
    // pays its build exactly once per session.
    coPurchaseWeightedEdgesMaterialized(spark, sfDir, maxBasket)
      .select(col("u").as("part_a"), col("v").as("part_b"),
        col("w").as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a").asc, col("part_b").asc)
      .limit(topN)
  }

  val partAffinitySql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |r AS (SELECT ok, pk,
       |             row_number() OVER (PARTITION BY ok ORDER BY pk) AS rk
       |      FROM op)
       |SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_orders
       |FROM r a JOIN r b ON a.ok = b.ok AND a.pk < b.pk
       |WHERE a.rk <= $AffinityMaxBasket AND b.rk <= $AffinityMaxBasket
       |GROUP BY 1, 2
       |ORDER BY n_orders DESC, part_a, part_b
       |LIMIT $AffinityTopN""".stripMargin

  private val RulesTopN = 50
  private val RulesMinSupport = 3L

  /** ASSOCIATION RULES: a → b with support, confidence
    * (supp(ab)/supp(a)) and lift (N·supp(ab)/(supp(a)·supp(b))), top-N
    * by lift — the recommendation readout on top of [[partAffinity]]'s
    * co-occurrence counts (affinity says "bought together often";
    * rules say "given a, how surprising is b").
    *
    * Same capped basket-pair kernel as the affinity query (one scan,
    * basket cap bounds the mega-order fan-out; the cap applies to PAIR
    * emission only — single-item supports stay uncapped, both engines
    * identically). A min-support floor ([[RulesMinSupport]]) prunes the
    * pair tail before the joins — the Apriori downward-closure step.
    * Item supports join on the part key (|parts| catalog-sized — AQE
    * broadcasts when small, shuffles when not; never forced). All
    * ratios are exact-int divisions rounded once ([[Det.r]]); ordering
    * ties break on (ant, cons). */
  def basketRules(spark: SparkSession, sfDir: String,
                  topN: Int = RulesTopN,
                  maxBasket: Int = AffinityMaxBasket): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    // r14: the distinct-order count rides a broadcast 1-row aggregate
    // instead of a driver count() action on a cached frame — the cache
    // materialization + count round trip cost more than the reused
    // (ok, pk) distinct exchange both consumers now share lazily
    val op = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val nn = op.agg(countDistinct("ok").as("n_orders_total"))
    val itemSupp = op.groupBy("pk").agg(count(lit(1)).as("supp"))
    // pair supports come straight off the shared weighted edge sink
    // (same capped kernel, built once per session for the whole family)
    val pairSupp = coPurchaseWeightedEdgesMaterialized(spark, sfDir, maxBasket)
      .select(col("u").as("a"), col("v").as("b"), col("w").as("supp_ab"))
      .filter(col("supp_ab") >= RulesMinSupport)
    val directed = pairSupp
      .select(col("a").as("ant"), col("b").as("cons"), col("supp_ab"))
      .union(pairSupp
        .select(col("b").as("ant"), col("a").as("cons"), col("supp_ab")))
    directed
      .join(itemSupp.select(col("pk").as("ant"), col("supp").as("supp_ant")),
        "ant")
      .join(itemSupp.select(col("pk").as("cons"), col("supp").as("supp_cons")),
        "cons")
      .crossJoin(broadcast(nn))
      .select(col("ant"), col("cons"), col("supp_ab"),
        Det.r(col("supp_ab").cast("double") / col("supp_ant"), 6).as("conf"),
        Det.r((col("supp_ab") * col("n_orders_total")).cast("double") /
          (col("supp_ant") * col("supp_cons")), 6).as("lift"))
      .orderBy(col("lift").desc, col("conf").desc,
        col("ant").asc, col("cons").asc)
      .limit(topN)
  }

  def basketRulesSqlFor(topN: Int, maxBasket: Int): String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |rr AS (SELECT ok, pk,
       |              row_number() OVER (PARTITION BY ok ORDER BY pk) AS rk
       |       FROM op),
       |pp AS (SELECT a.pk AS a, b.pk AS b, count(*) AS supp_ab
       |       FROM rr a JOIN rr b ON a.ok = b.ok AND a.pk < b.pk
       |       WHERE a.rk <= $maxBasket AND b.rk <= $maxBasket
       |       GROUP BY 1, 2
       |       HAVING count(*) >= $RulesMinSupport),
       |si AS (SELECT pk, count(*) AS supp FROM op GROUP BY 1),
       |nn AS (SELECT count(DISTINCT ok) AS n FROM op),
       |dd AS (SELECT a AS ant, b AS cons, supp_ab FROM pp
       |       UNION ALL
       |       SELECT b, a, supp_ab FROM pp)
       |SELECT dd.ant, dd.cons, dd.supp_ab,
       |       ${Det.rSql("CAST(dd.supp_ab AS DOUBLE) / sa.supp", 6)} AS conf,
       |       ${Det.rSql(
        "CAST(dd.supp_ab * nn.n AS DOUBLE) / (sa.supp * sc.supp)", 6)} AS lift
       |FROM dd JOIN si sa ON sa.pk = dd.ant
       |        JOIN si sc ON sc.pk = dd.cons
       |        CROSS JOIN nn
       |ORDER BY lift DESC, conf DESC, ant, cons
       |LIMIT $topN""".stripMargin

  private val PrIters = 5
  private val PrTopN = 50

  /** Weighted capped co-purchase edge set (u < v — baskets are sorted,
    * so i < j orders the pair; w = number of distinct orders containing
    * both): the ONE SHARED substrate of the whole graph family
    * ([[partAffinity]], [[partPagerank]], [[triangleCount]],
    * [[partLinkPrediction]]), which previously split across an
    * unweighted sink plus per-query rebuilds of the identical lineitem
    * scan → distinct → basket → pair-flatMap chain. The pair count is
    * the same shuffle the old distinct paid, so carrying the weight is
    * free; built once per (sfDir, maxBasket) behind the write-once
    * session sink (the knn-edges precedent); |edges| is bounded by
    * orders × C(maxBasket,2) — never corpus-sized. */
  private def coPurchaseWeightedEdges(spark: SparkSession, sfDir: String,
                                      maxBasket: Int): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .groupBy("ok").agg(sort_array(collect_list(col("pk"))).as("ps"))
      .select(col("ps")).as[Seq[Long]]
      .flatMap { ps =>
        val n = math.min(ps.length, maxBasket)  // the skew cap
        val b = Seq.newBuilder[(Long, Long)]
        var i = 0
        while (i < n - 1) {
          var j = i + 1
          while (j < n) { b += ((ps(i), ps(j))); j += 1 }
          i += 1
        }
        b.result()
      }
      .toDF("u", "v").groupBy("u", "v").agg(count(lit(1)).as("w"))
  }

  private def coPurchaseWeightedEdgesMaterialized(
      spark: SparkSession, sfDir: String, maxBasket: Int): DataFrame =
    Substrate.materialize(spark, s"graft_copurchw${maxBasket}_", sfDir)(
      coPurchaseWeightedEdges(spark, sfDir, maxBasket))

  /** Unweighted projection of the shared weighted sink (the pair set is
    * identical — the weight column is simply dropped). */
  private def coPurchaseEdgesMaterialized(spark: SparkSession, sfDir: String,
                                          maxBasket: Int): DataFrame =
    coPurchaseWeightedEdgesMaterialized(spark, sfDir, maxBasket)
      .select("u", "v")

  /** PageRank over the part co-purchase graph — link-analysis authority
    * scoring, the algorithm a crawl-curation pipeline runs to weight
    * page quality before corpus selection (here over the fixture's
    * natural graph: parts are nodes, an edge joins parts bought in the
    * same order, baskets capped like [[partAffinity]] so one mega-order
    * can't densify the graph quadratically). [[PrIters]] damped rounds
    * (d = 0.85), then the top-[[PrTopN]] authorities.
    *
    * ALL-INTEGER recurrence — the property that makes an iterative
    * fixpoint hash-gateable at all (the Lloyd/BPE move, applied to
    * graphs): ranks live in micro-units (r₀ = 1e6), each round is
    * r' = 150000 + (85 · Σ_{q→p} (r(q) div deg(q))) div 100 with
    * integer division on both engines — no float ever enters, so
    * fold order cannot matter anywhere. The div-truncation mass loss
    * is part of the operator's defined semantics (documented, tiny:
    * < deg per node per round).
    *
    * Scale shape: Pregel-without-Pregel — each round is one
    * edges⋈ranks shuffle on src, one grouped sum on dst, one
    * nodes-left-join; edge and rank frames are |edges|/|parts|-sized
    * and PARTITION-stable across rounds (same join keys). The loop
    * invariants (edges/deg/nodes) are cached — measured at relScale=10
    * (PERF.md): uncached 28.4 s → cached 23.2 s, the gap small because
    * ReuseExchange already dedups the repeated subtrees within the one
    * lazy plan. Nothing collects to the driver — the loop builds one
    * lazy [[PrIters]]-deep plan (at 100+ rounds you would checkpoint
    * lineage every ~10; at 5 the plan is shallow). */
  def partPagerank(spark: SparkSession, sfDir: String,
                   topN: Int = PrTopN,
                   maxBasket: Int = AffinityMaxBasket): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    require(maxBasket > 1, s"maxBasket must be > 1, got $maxBasket")
    val und = coPurchaseEdgesMaterialized(spark, sfDir, maxBasket)
    val pairs = und.select(col("u").as("src"), col("v").as("dst"))
      .union(und.select(col("v").as("src"), col("u").as("dst")))
    // pairs is already distinct: the two directed projections of a
    // distinct undirected set are disjoint (u < v on one side).
    //
    // r13 OPTIMIZATION (guide §2.4 — remove shuffles outright): the old
    // loop cached `pairs` UNPARTITIONED (a union has no output
    // partitioning), so every round re-shuffled the |edges| frame on
    // src, re-joined `deg` on src, and closed with a nodes LEFT JOIN on
    // part — ~4 exchanges per round (plan: 53 Exchange / 10 SortMergeJoin
    // at 5 rounds). Restructured:
    //  - deg folds into the edge frame ONCE; the cached (src, dst, deg)
    //    frame comes out of the build join HASH-PARTITIONED ON src, and
    //    InMemoryTableScan preserves that partitioning, so each round's
    //    ranks⋈edges join shuffles only the |parts|-sized ranks side;
    //  - the nodes LEFT JOIN is dropped: edges carry BOTH directions of
    //    every undirected edge, so every node occurs as dst and the
    //    contribution sum is never NULL — coalesce(s,0) could never
    //    fire (and deg's keys ARE the node set, giving r₀ directly).
    // Per round: 1 ranks exchange + 1 groupBy(dst) exchange — down from
    // ~4 (plan: 53 → 33 Exchange / 10 → 8 SortMergeJoin; measured
    // 19.7 → 8.2 s at sf0.1, 2.4×, A/B'd back-to-back in one — noisy —
    // box window; 5.1 s in a quieter window vs the 7.2 s round-start
    // bench entry). Identical integer recurrence, identical rows
    // (oracle keeps its LEFT JOIN form; both sides agree because no
    // node is contribution-less).
    // Caches are |edges|-/|parts|-sized, bounded by the basket cap —
    // never corpus-sized; A/B-able via SPARK_GRAFT_DISABLE_CACHE.
    val deg = TextAnalysis.maybeCache(
      pairs.groupBy("src").agg(count(lit(1)).as("deg")))
    val edges = TextAnalysis.maybeCache(pairs.join(deg, "src"))
    var ranks = deg.select(col("src").as("part"), lit(1000000L).as("r"))
    for (_ <- 1 to PrIters) {
      ranks = edges
        .join(ranks.withColumnRenamed("part", "src"), "src")
        .select(col("dst").as("part"), expr("r div deg").as("c"))
        .groupBy("part").agg(sum("c").as("s"))
        .select(col("part"), expr("150000 + (85 * s) div 100").as("r"))
    }
    ranks.select(col("part"), col("r").as("rank_micros"))
      .orderBy(col("rank_micros").desc, col("part").asc)
      .limit(topN)
  }

  /** DuckDB twin of [[partPagerank]] — the [[partAffinitySql]] capped
    * basket join for edges, then the [[PrIters]] rounds unrolled as
    * CTEs with the identical integer recurrence. */
  val partPagerankSql: String = {
    val rounds = (1 to PrIters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS part, CAST(sum(r.r // d.deg) AS BIGINT) AS s
         |  FROM edges e
         |  JOIN r${k - 1} r ON r.part = e.src
         |  JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst),
         |r$k AS MATERIALIZED (
         |  SELECT n.part,
         |         CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN c$k c ON c.part = n.part)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |br AS (SELECT ok, pk,
       |              row_number() OVER (PARTITION BY ok ORDER BY pk) AS rk
       |       FROM op),
       |edges AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
       |          FROM br a JOIN br b ON a.ok = b.ok AND a.pk <> b.pk
       |          WHERE a.rk <= $AffinityMaxBasket AND b.rk <= $AffinityMaxBasket),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS part FROM edges),
       |r0 AS (SELECT part, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT part, r AS rank_micros FROM r$PrIters
       |ORDER BY rank_micros DESC, part
       |LIMIT $PrTopN""".stripMargin
  }

  /** Triangle census of the capped co-purchase graph — the graph-health
    * summary (how clustered is the part-affinity structure) and the third
    * member of the graph family after [[partAffinity]] (edge weights) and
    * [[partPagerank]] (node authority). Returns ONE row: node/edge/wedge/
    * triangle counts and the global transitivity 3·T/W.
    *
    * Scale: the compact-forward orientation (each undirected edge
    * directed from its lower-(degree, id) endpoint) bounds the wedge join
    * output by Σ min-deg² ≤ O(m^1.5) REGARDLESS of hub skew — a hub of
    * degree d receives its edges inward and contributes NO d² wedge
    * blow-up (the node-iterator algorithm without the orientation is
    * O(Σ deg²), quadratic in the hub). Wedge generation shuffles directed
    * edges once on the pivot `s`; closure is one equi-join of wedges
    * against directed edges on (s,t). The basket cap bounds the densest
    * order clique at maxBasket² edges, same knob as the other two graph
    * queries. Everything is exact integer arithmetic except the final
    * transitivity ratio ([[Det.r]]). */
  def triangleCount(spark: SparkSession, sfDir: String,
                    maxBasket: Int = AffinityMaxBasket): DataFrame = {
    require(maxBasket > 1, s"maxBasket must be > 1, got $maxBasket")
    val und = coPurchaseEdgesMaterialized(spark, sfDir, maxBasket)
    // |edges|-sized invariants, referenced by degree/orientation/closure
    // (the partPagerank cache discipline, same A/B toggle)
    val undC = TextAnalysis.maybeCache(und)
    val deg = undC.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val dir = TextAnalysis.maybeCache(undC
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t")))
    // r13 OPTIMIZATION (guide §2.3 — shuffle fewer bytes/ROWS): the old
    // closure MATERIALIZED every forward wedge (dir ⋈ dir on the pivot,
    // Σ C(outdeg,2) rows — ~35M at sf0.1 on a flat-degree graph) and
    // shuffled that pair-cardinality stream into an equi-join against
    // dir on (s,t). Equivalent compact-forward form: per-node sorted
    // forward-adjacency arrays (|nodes| rows, Σ|arrays| = |edges| — the
    // orientation bounds every array at O(√m)), then per DIRECTED EDGE
    // (s,t) count |N⁺(s) ∩ N⁺(t)| with the two-pointer codegen
    // sorted_intersect_count (arrays are sorted-distinct) and
    // sum. Each triangle {a→b, a→c, b→c} is counted exactly once, at its
    // unique edge (a,b) with common out-neighbor c — the same set the
    // wedge closure enumerated (wedge (t1,t2) from pivot s closed by
    // t1→t2 ⟺ t2 ∈ N⁺(s)∩N⁺(t1)). Shuffle cardinality drops from
    // |wedges| rows to |edges| rows (one adjacency array rides one
    // |edges|-sized exchange — edge-cardinality, not pair-cardinality,
    // so the r8 array-shuffle rule is respected). Measured 6.55 → 3.47 s
    // at sf0.1 (1.9×, A/B'd back-to-back in the same box window).
    val adj = dir.groupBy(col("s").as("n"))
      .agg(sort_array(collect_list(col("t"))).as("nb"))
    val tri = dir
      .join(adj.select(col("n").as("t"), col("nb").as("nbt")), Seq("t"))
      .join(adj.select(col("n").as("s"), col("nb").as("nbs")), Seq("s"))
      .select(graft.functions.VectorFunctions.sorted_intersect_count(
        col("nbs"), col("nbt")).as("c"))
      .agg(coalesce(sum("c"), lit(0L)).as("n_triangles"))
    val nd = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    val ed = undC.agg(count(lit(1)).as("n_edges"))
    nd.crossJoin(ed).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"),
        coalesce(col("n_wedges"), lit(0L)).as("n_wedges"), col("n_triangles"))
      .withColumn("transitivity",
        Det.r(lit(3.0) * col("n_triangles")
          / greatest(col("n_wedges"), lit(1L)), 6))
  }

  /** DuckDB twin of [[triangleCount]] — the [[partAffinitySql]] capped
    * basket join for undirected edges, then the identical
    * degree-ordered orientation and wedge closure. */
  val triangleCountSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |br AS (SELECT ok, pk,
       |              row_number() OVER (PARTITION BY ok ORDER BY pk) AS rk
       |       FROM op),
       |und AS (SELECT DISTINCT a.pk AS u, b.pk AS v
       |        FROM br a JOIN br b ON a.ok = b.ok AND a.pk < b.pk
       |        WHERE a.rk <= $AffinityMaxBasket AND b.rk <= $AffinityMaxBasket),
       |deg AS (SELECT n, count(*) AS deg
       |        FROM (SELECT u AS n FROM und UNION ALL SELECT v FROM und)
       |        GROUP BY n),
       |dir AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS s,
       |               CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS t,
       |               CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS dt
       |        FROM (SELECT u, v, d1.deg AS du, d2.deg AS dv
       |              FROM und JOIN deg d1 ON d1.n = und.u
       |                       JOIN deg d2 ON d2.n = und.v)),
       |w AS (SELECT e1.t AS s, e2.t AS t
       |      FROM dir e1 JOIN dir e2
       |        ON e1.s = e2.s AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))),
       |tri AS (SELECT count(*) AS n_triangles FROM w JOIN dir USING (s, t)),
       |nd AS (SELECT count(*) AS n_nodes,
       |              CAST(coalesce(sum((deg * (deg - 1)) // 2), 0) AS BIGINT) AS n_wedges
       |       FROM deg),
       |ed AS (SELECT count(*) AS n_edges FROM und)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |       ${Det.rSql("3.0 * n_triangles / greatest(n_wedges, 1)", 6)} AS transitivity
       |FROM nd CROSS JOIN ed CROSS JOIN tri""".stripMargin

  private val SkewTopN = 20

  /** Key-skew diagnostic over the lineitem part key — the pre-flight
    * report a 100 TB join plan reads before choosing salting or AQE skew
    * handling ([[graft.operators.SkewJoin]] is the treatment; this is
    * the diagnosis): the hottest keys, each with its corpus share and
    * its ratio to the mean key frequency. One grouped count (map-side
    * combined), a one-row total/cardinality cross (the sanctioned
    * scalar funnel), top-N via TakeOrderedAndProject — the report costs
    * one scan regardless of key cardinality. Counts are exact integers;
    * both ratios are single divisions of exact integers, rounded via
    * [[Det.r]]; ties break on the key. */
  def keySkewReport(spark: SparkSession, sfDir: String,
                    topN: Int = SkewTopN): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    val counts = Tables.lineitem(spark, sfDir)
      .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("total"), count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(tot))
      .select(col("l_partkey"), col("cnt"),
        Det.r(col("cnt").cast("double") / col("total"), 6).as("share"),
        Det.r(col("cnt").cast("double") * col("n_keys") / col("total"), 4)
          .as("skew_ratio"))
      .orderBy(col("cnt").desc, col("l_partkey").asc)
      .limit(topN)
  }

  val keySkewReportSql: String =
    s"""WITH c AS (SELECT l_partkey, count(*) AS cnt
       |           FROM lineitem GROUP BY l_partkey),
       |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
       |             count(*) AS n_keys FROM c)
       |SELECT l_partkey, cnt,
       |       ${Det.rSql("CAST(cnt AS DOUBLE) / total", 6)} AS share,
       |       ${Det.rSql("CAST(cnt AS DOUBLE) * n_keys / total", 4)} AS skew_ratio
       |FROM c CROSS JOIN t
       |ORDER BY cnt DESC, l_partkey
       |LIMIT $SkewTopN""".stripMargin

  /** The ONE shared SQL text for [[sqlAboveAvgOrders]] — the Spark side
    * executes it verbatim through `spark.sql` over the registered views,
    * and the oracle hands the identical string to DuckDB, which is the
    * strongest possible cross-engine claim for the SQL surface. */
  private val aboveAvgOrdersSqlText: String =
    """WITH oc AS (SELECT o_custkey,
      |                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |            FROM orders)
      |SELECT o.o_custkey AS custkey, count(*) AS n_above
      |FROM oc o
      |WHERE o.cents * (SELECT count(*) FROM oc i WHERE i.o_custkey = o.o_custkey)
      |      > (SELECT sum(i.cents) FROM oc i WHERE i.o_custkey = o.o_custkey)
      |GROUP BY o.o_custkey
      |ORDER BY custkey""".stripMargin

  /** Registered query that runs THROUGH the `spark.sql` surface: each
    * customer's orders priced above that customer's own average — the
    * classic correlated-scalar-subquery shape (two correlated aggregates,
    * which Catalyst decorrelates into per-custkey aggregate joins: one
    * shuffle on the correlation key, never a per-row re-scan). The
    * above-average test is cents·n > Σcents — pure integers, so no
    * double average ever exists to diverge between engines.
    *
    * The other 23 relational queries pin the DataFrame API; this one
    * pins the SQL entry path end-to-end (views + parser + decorrelation)
    * inside the same oracle gate, running the IDENTICAL SQL text on both
    * engines. */
  def sqlAboveAvgOrders(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerViews(spark, sfDir)
    spark.sql(aboveAvgOrdersSqlText)
  }

  val sqlAboveAvgOrdersSql: String = aboveAvgOrdersSqlText

  // --------------------------------------------------------------------
  // Skyline (Pareto frontier)
  // --------------------------------------------------------------------

  /** SKYLINE / PARETO FRONTIER: parts not dominated on
    * (price ↓, size ↑) — q dominates r iff q is no more expensive AND
    * no smaller, strictly better somewhere; the multi-objective
    * shortlist ("cheapest for at least its size") behind any
    * best-tradeoff query.
    *
    * The naive shape is the O(n²) dominance anti-join (the oracle).
    * Scalable decomposition: with B(s) = min price over parts of size
    * ≥ s, a part (p, s) is in the skyline iff p == B(s) AND
    * B(s+1) > p (a same-priced strictly-larger part would dominate;
    * an equal (p, s) twin does not — no strict edge). B comes from a
    * per-size min-price agg — ≤ |distinct sizes| rows at ANY corpus
    * size — collected through [[Hist.bounded]], suffix-minned on the
    * driver and broadcast back: one grouped agg + one broadcast join,
    * no global sort, no pair join. (Both-dimensions-continuous skylines bucket
    * the first dimension and carry prefix maxes — the
    * [[graft.queries.Curation.weightedSamplePps]] histogram move; here
    * the integer size axis IS the bounded bucket set.) Cents integers
    * throughout. */
  def skylineParts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_size"),
        cents(col("p_retailprice")).as("cents"))
    // bounded model state: one (size, min price) row per distinct size
    // (integer axis; TPC-H: ≤ 50) — suffix-minned on the driver, the
    // eventsValueQuantiles pattern (a window over the frame would plan
    // the SinglePartition funnel PlanShapeSpec bans)
    val bySize = Hist.bounded(parts.groupBy("p_size").agg(min("cents").as("mn")),
        "skyline_parts")
      .map(r => (r.getAs[Int]("p_size"), r.getAs[Long]("mn"))).sortBy(-_._1)
    if (bySize.isEmpty)
      return Seq.empty[(Long, Int, Double)].toDF("p_partkey", "p_size", "price")
    // bNext = B over strictly larger sizes: the carry of a min-fold
    val (bNext, _) = Hist.carries(bySize.map(_._2), Long.MaxValue)(math.min)
    val frontier = bySize.zip(bNext).map {
      case ((s, mn), bn) => (s, math.min(bn, mn), bn) // (s, B(s), B(s+1))
    }
    parts.join(broadcast(frontier.toSeq.toDF("p_size", "b", "b_next")), "p_size")
      .filter(col("cents") === col("b") && col("b_next") > col("cents"))
      .select(col("p_partkey"), col("p_size"),
        (col("cents").cast("double") / 100).as("price"))
      .orderBy("p_partkey")
  }

  /** Oracle: the direct NOT EXISTS dominance filter — equality proves
    * the suffix-min decomposition keeps exactly the frontier. */
  val skylinePartsSql: String =
    """WITH p AS (SELECT p_partkey, p_size,
      |                  CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      |           FROM part)
      |SELECT p_partkey, p_size, CAST(cents AS DOUBLE) / 100 AS price
      |FROM p r
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p q
      |  WHERE q.cents <= r.cents AND q.p_size >= r.p_size
      |    AND (q.cents < r.cents OR q.p_size > r.p_size))
      |ORDER BY p_partkey""".stripMargin

  // --------------------------------------------------------------------
  // Bloom-pruned semi join (the runtime-filter shape, made explicit)
  // --------------------------------------------------------------------

  private val BloomMaxKeys = 5000000L

  /** BLOOM-PRUNED SEMI JOIN: revenue of lineitem rows belonging to
    * URGENT orders, with the fact side pre-filtered by a Bloom filter
    * built over the dim keys BEFORE any join shuffle — the
    * runtime-filter pattern Spark's own InjectRuntimeFilter applies,
    * made explicit with the engine's native Catalyst machinery
    * (BloomFilterAggregate / BloomFilterMightContain + XxHash64, the
    * exact expressions the optimizer injects). Non-matching fact rows
    * die at the scan; survivors (matches + false positives) go through
    * the EXACT semi join, so the result is identical to the plain semi
    * join — the Bloom is pure pruning, and the oracle proves it.
    *
    * Scale: the filter is |dim|-derived model state (~1.2 MB at 1M
    * keys), built by one map-side-combining agg and inlined as a
    * literal — the [[Temporal.eventsCmsTopk]] bounded-sketch
    * discipline. A dim side over [[BloomMaxKeys]] keys skips the
    * bloom (a GB-scale filter stops being "model state") and runs the
    * straight semi join — the same size gate Spark's injector applies
    * via its creation-side threshold. */
  def bloomSemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val dim = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val fact = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_returnflag"),
        cents(col("l_extendedprice")).as("cents"))
    val nKeys = dim.count() // one cheap agg; also sizes the filter
    val pruned =
      if (nKeys == 0) fact.filter(lit(false))
      else if (nKeys > BloomMaxKeys) fact // gate: filter no longer model-state-sized
      else {
        val bf = dim.select(Bridge.column(
          new BloomFilterAggregate(
            new XxHash64(Seq(Bridge.expression(col("o_orderkey")))),
            math.max(nKeys, 1000L)).toAggregateExpression()).as("bf"))
          .head().getAs[Array[Byte]](0)
        fact.filter(Bridge.column(new BloomFilterMightContain(
          Literal.create(bf, BinaryType),
          new XxHash64(Seq(Bridge.expression(col("l_orderkey")))))))
      }
    pruned.join(dim, pruned("l_orderkey") === dim("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        (sum("cents").cast("double") / 100).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Oracle: the plain IN-subquery semi join — equality proves the
    * Bloom stage prunes without dropping or inventing a row. */
  val bloomSemiJoinSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
      |         / 100 AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |                     WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------------
  // Fuzzy join (blocked edit-distance entity resolution)
  // --------------------------------------------------------------------

  private val FuzzyMaxDist = 2

  /** FUZZY SELF-JOIN (entity resolution): part pairs within a brand whose
    * names are ≤ [[FuzzyMaxDist]] edits apart — the near-duplicate
    * catalog-entry detector ("red widgat" vs "red widget") every master-
    * data pipeline runs.
    *
    * An unblocked fuzzy join is the n² scale-killer, so candidates are
    * BLOCKED twice, losslessly: (1) equality on the structured attribute
    * (p_brand — the classic blocking key); (2) name-length bands of width
    * maxDist + 1: lev(a,b) ≤ 2 forces |len(a)−len(b)| ≤ 2 < 3, so
    * the bands floor(len/3) differ by at most 1 — the LEFT side explodes
    * to bands {b−1, b, b+1} and the right keeps its own band, so every
    * qualifying pair meets on the (brand, band) equi key EXACTLY once
    * (the right band is unique) and no pair is lost. The expensive DP
    * predicate runs only on co-blocked pairs that also pass the cheap
    * length prefilter. At 100 TB the join shuffles on (brand, band) like
    * any hash join; pair cost is Σ_block |block|² — bounded by the
    * blocking-key granularity, and a hot block is a further-refinable
    * key (add a name-prefix band), not an algorithm change. Output is
    * all-integer + strings: engine-exact, no Det rounding. */
  def fuzzyJoinParts(spark: SparkSession, sfDir: String,
                     maxDist: Int = FuzzyMaxDist): DataFrame =
    fuzzyPairs(spark, sfDir, maxDist).orderBy("a_key", "b_key")

  /** [[fuzzyJoinParts]] without the presentation sort — the reusable
    * fuzzy-match edge frame, MATERIALIZED ONCE per (sfDir, maxDist)
    * via the [[Substrate.materialize]] sink (the knn-edge precedent:
    * the blocked DP join is the expensive stage and two queries —
    * fuzzy_join_parts and entity_resolution — consume the identical
    * frame; edges are pair-density-sized, far smaller than `part`). */
  private def fuzzyPairs(spark: SparkSession, sfDir: String,
                         maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    Substrate.materialize(spark, s"graft_fuzzy${maxDist}_", sfDir) {
      val bandW = maxDist + 1
      val p = Tables.part(spark, sfDir)
        .select(col("p_partkey"), col("p_brand"), col("p_name"),
          length(col("p_name")).as("len"))
        .withColumn("band", expr(s"len DIV $bandW"))
      val left = p.select(col("p_brand"), col("p_partkey").as("a_key"),
          col("p_name").as("a_name"), col("len").as("a_len"),
          explode(sequence(col("band") - 1, col("band") + 1)).as("band"))
      val right = p.select(col("p_brand"), col("band"),
        col("p_partkey").as("b_key"), col("p_name").as("b_name"),
        col("len").as("b_len"))
      left.join(right, Seq("p_brand", "band"))
        .filter(col("a_key") < col("b_key") &&
          abs(col("a_len") - col("b_len")) <= maxDist)
        // thresholded levenshtein: banded O(len·k) DP with early exit,
        // -1 above the bound (bench: 14.9 → ~3 s on the same pair set);
        // kept rows carry the exact distance, so the oracle's unbounded
        // levenshtein agrees on every surviving row
        .withColumn("dist", levenshtein(col("a_name"), col("b_name"), maxDist))
        .filter(col("dist") >= 0 && col("dist") <= maxDist)
        .select(col("p_brand"), col("a_key"), col("b_key"),
          col("a_name"), col("b_name"), col("dist"))
    }
  }

  /** ENTITY RESOLUTION: the transitive closure of the fuzzy name-match
    * relation — [[fuzzyJoinParts]] finds the pairwise variants
    * ("moccasin tan" vs "mocasin tan"), this resolves them into
    * canonical ENTITIES (A~B and B~C put A,C in one entity even when
    * dist(A,C) exceeds the threshold — the MDM/master-data step a pair
    * list alone can't express). Every part appears exactly once:
    * singletons resolve to themselves; entity_id = min member key and
    * `canonical_name` is that member's name (the same min-id
    * canonicality rule the dedup family uses).
    *
    * Scale shape: edges come from the memoized blocked-DP substrate
    * (shared with fuzzy_join_parts — built once per corpus dir); the
    * closure is [[Dedup.ccLabelsOf]] — single-task union-find under
    * [[Dedup]]'s edge threshold, large-star/small-star fixpoint with
    * the star-forest proof above it — so cluster diameter never
    * serializes anything. Labels join back to `part` on p_partkey and
    * the canonical-name lookup joins on entity_id: both high-cardinality
    * equi-joins; n_members is a keyed agg, not a window. The DuckDB twin
    * computes the closure with a recursive reachability CTE (the
    * knn_components template), proving the star-forest labels equal true
    * connected components on every row. */
  def entityResolution(spark: SparkSession, sfDir: String,
                       maxDist: Int = FuzzyMaxDist): DataFrame = {
    val edges = fuzzyPairs(spark, sfDir, maxDist)
      .select(col("a_key").as("doc_a"), col("b_key").as("doc_b"))
    val labels = Dedup.ccLabelsOf(spark, edges)
      .select(col("doc_id").as("p_partkey"), col("comp"))
    val p = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_name"))
    val lab = p.join(labels, Seq("p_partkey"), "left")
      .select(col("p_partkey"), col("p_name"),
        coalesce(col("comp"), col("p_partkey")).as("entity_id"))
    val sizes = lab.groupBy("entity_id").agg(count(lit(1)).as("n_members"))
    val canon = p.select(col("p_partkey").as("entity_id"),
      col("p_name").as("canonical_name"))
    lab.join(sizes, "entity_id").join(canon, "entity_id")
      .select(col("p_partkey"), col("p_name"), col("entity_id"),
        (col("p_partkey") === col("entity_id")).as("is_canonical"),
        col("canonical_name"), col("n_members"))
      .orderBy("p_partkey")
  }

  /** Oracle: unblocked within-brand pairs + recursive reachability
    * (exact CC, no fixed-round unrolling) — affordable at oracle scale;
    * hash-matching proves blocking losslessness AND the star-forest
    * labels in one gate. */
  val entityResolutionSql: String =
    s"""WITH RECURSIVE
       |ep AS (SELECT a.p_partkey AS a_key, b.p_partkey AS b_key
       |       FROM part a JOIN part b
       |         ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
       |       WHERE abs(length(a.p_name) - length(b.p_name)) <= $FuzzyMaxDist
       |         AND levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist),
       |e2 AS (SELECT a_key AS src, b_key AS dst FROM ep
       |       UNION ALL SELECT b_key, a_key FROM ep),
       |reach(v, m) AS (
       |  SELECT DISTINCT src, src FROM e2
       |  UNION
       |  SELECT e.src, r.m FROM e2 e JOIN reach r ON e.dst = r.v),
       |lab AS (SELECT v AS p_partkey, min(m) AS entity_id
       |        FROM reach GROUP BY v),
       |allp AS (SELECT p.p_partkey, p.p_name,
       |                coalesce(l.entity_id, p.p_partkey) AS entity_id
       |         FROM part p LEFT JOIN lab l USING (p_partkey)),
       |sizes AS (SELECT entity_id, count(*) AS n_members
       |          FROM allp GROUP BY entity_id)
       |SELECT a.p_partkey, a.p_name, a.entity_id,
       |       a.p_partkey = a.entity_id AS is_canonical,
       |       c.p_name AS canonical_name, s.n_members
       |FROM allp a
       |JOIN part c ON a.entity_id = c.p_partkey
       |JOIN sizes s ON a.entity_id = s.entity_id
       |ORDER BY a.p_partkey""".stripMargin

  /** Oracle: the unblocked within-brand theta join — affordable at
    * oracle scale; hash-matching proves the band blocking is lossless. */
  val fuzzyJoinPartsSql: String =
    s"""SELECT a.p_brand, a.p_partkey AS a_key, b.p_partkey AS b_key,
       |       a.p_name AS a_name, b.p_name AS b_name,
       |       levenshtein(a.p_name, b.p_name) AS dist
       |FROM part a JOIN part b
       |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
       |WHERE abs(length(a.p_name) - length(b.p_name)) <= $FuzzyMaxDist
       |  AND levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist
       |ORDER BY a_key, b_key""".stripMargin

  // --------------------------------------------------------------------
  // Data-quality: one-pass column profiling + constraint checks
  // --------------------------------------------------------------------

  /** The profiled `orders` columns with their canonical min/max
    * renderings — shared by the exact and approx profile legs so the
    * two can never drift. */
  private val ProfileCols: Seq[(String, Column => Column)] = {
    val asStr   = (c: Column) => c.cast("string")
    val asCents = (c: Column) => cents(c).cast("string")
    val asTs    = (c: Column) => date_format(c, "yyyy-MM-dd HH:mm:ss")
    Seq(
      "o_orderkey" -> asStr, "o_custkey" -> asStr, "o_orderstatus" -> asStr,
      "o_totalprice" -> asCents, "o_orderdate" -> asTs,
      "o_orderpriority" -> asStr)
  }

  /** The matching DuckDB min/max renderings, keyed like [[ProfileCols]]. */
  private val ProfileColsSql: Seq[(String, String)] = Seq(
    ("o_orderkey", "CAST(%s AS VARCHAR)"),
    ("o_custkey", "CAST(%s AS VARCHAR)"),
    ("o_orderstatus", "CAST(%s AS VARCHAR)"),
    ("o_totalprice", "CAST(CAST(round((%s) * 100) AS BIGINT) AS VARCHAR)"),
    ("o_orderdate", "strftime(%s, '%%Y-%%m-%%d %%H:%%M:%%S')"),
    ("o_orderpriority", "CAST(%s AS VARCHAR)"))

  /** TABLE PROFILE: per-column null count, exact distinct count, and
    * canonically-rendered min/max over `orders` in ONE scan — the
    * column-profiling pass every ingestion pipeline runs before trusting
    * a new drop (the Deequ/Great-Expectations "profile" surface).
    *
    * Shape: a single wide agg row (count + 4 stats × 6 columns, all
    * partial/map-side combining) unpivoted by `stack` into one row per
    * column — output is |columns|-sized model state regardless of corpus
    * size. The exact `count(DISTINCT c)` per column makes Catalyst plan
    * an expand×6 (one pass over the data, 6× rows into the partial
    * aggs); that is the price of oracle-exact distincts — at 100 TB swap
    * in approx_count_distinct (HLL, one expand-free pass; the sketch
    * discipline [[approxDistinctParts]] already demonstrates) and keep
    * this exact path for audit reruns. Min/max render per type (ints as
    * digits, money as cents, timestamps via one fixed format) so the
    * strings are engine-portable.
    *
    * r13 OPTIMIZATION (guide §1.2 step 2 — per-task work; probe table in
    * OPTIMIZATION_r13.md §3): min/max buffers inside the multi-distinct Expand
    * aggregate force the whole aggregate onto the sort-based path
    * (5.4 s at sf0.1); with the Expand aggregate carrying ONLY counts +
    * exact distincts (all-primitive buffers → hash aggregation) and
    * every min/max moved to a separate KEYLESS streaming aggregate
    * (keyless SortAggregate never sorts — one buffer, one pass), the
    * same profile computes 3.1× faster (probe: 5.4 → 1.7 s; registered
    * query same-window A/B: 13.5 → 4.3 s on a noisier box).
    * Two scans instead of one,
    * but the second is a pure streaming pass; the Expand sort it
    * removes costs n·log(n) per partition on 7× expanded rows at
    * 100 TB. Output identical (same aggregates, same renderings). */
  def tableProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val cols = ProfileCols
    val distinctAggs = count(lit(1)).as("n_rows") +: cols.flatMap { case (n, _) =>
      Seq((count(lit(1)) - count(col(n))).as(s"${n}__nn"),
        countDistinct(col(n)).as(s"${n}__nd"))
    }
    val minmaxAggs = cols.flatMap { case (n, render) =>
      Seq(render(min(col(n))).as(s"${n}__mn"),
        render(max(col(n))).as(s"${n}__mx"))
    }
    val wide = o.agg(distinctAggs.head, distinctAggs.tail: _*)
      .crossJoin(broadcast(o.agg(minmaxAggs.head, minmaxAggs.tail: _*)))
    val stackArgs = cols.map { case (n, _) =>
      s"'$n', `${n}__nn`, `${n}__nd`, `${n}__mn`, `${n}__mx`"
    }.mkString(", ")
    wide.selectExpr("n_rows",
        s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, n_distinct, min_s, max_s)")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_s"), col("max_s"))
      .orderBy("col_name")
  }

  /** Oracle: one UNION ALL branch per column with the same canonical
    * renderings (min-then-render == render-then-min: every rendering is
    * monotone on its type). */
  val tableProfileSql: String = {
    val branches = ProfileColsSql.map { case (n, fmt) =>
      s"""SELECT '$n' AS col_name, count(*) AS n_rows,
         |       count(*) - count($n) AS n_nulls,
         |       count(DISTINCT $n) AS n_distinct,
         |       ${fmt.format(s"min($n)")} AS min_s,
         |       ${fmt.format(s"max($n)")} AS max_s
         |FROM orders""".stripMargin
    }
    branches.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** TABLE PROFILE, APPROX-CHECKED — the 100 TB audit path
    * [[tableProfile]]'s scaladoc promises. Same profile surface, but
    * the per-column distinct is HLL `approx_count_distinct` carried
    * through the driver's hash gate with the [[approxDistinctParts]]
    * bound-check discipline: the query emits the exact distinct plus a
    * `within_rsd` boolean asserting |approx − exact| ≤ 3·rsd·exact, and
    * the DuckDB twin computes the exact columns and pins the boolean
    * TRUE.
    *
    * r13 OPTIMIZATION (guide §1.2 step 1 — don't pay extra passes): the
    * old shape ran ONE UNION BRANCH PER COLUMN (each a full `orders`
    * scan with a single exact distinct) to keep every branch free of
    * the multi-distinct Expand — six scans plus ~2 exchanges per
    * branch, which is backwards at 100 TB where scans dominate. Now TWO
    * passes: (A) all six exact distincts + counts + min/max through the
    * shared multi-distinct Expand (exactly [[tableProfile]]'s plan) and
    * (B) the six HLL estimates in one Expand-FREE single-group
    * aggregate, cross-joined 1-row × 1-row and unpivoted by `stack`.
    * The HLLs and min/max must NOT ride the Expand aggregate: the HLLs
    * because its partial pass groups by (gid, distinct-cols) — per-ROW
    * cardinality on the gid=0 branch — and every group would allocate
    * and serialize 6 × ~8 KB HLL buffers into the exchange (measured:
    * 135 s — gigabytes of partial buffers; the fused-everything form is
    * the one plan WORSE than six scans); the min/max because any
    * non-primitive buffer forces the whole Expand aggregate onto the
    * sort-based path ([[tableProfile]]'s probe — 3.1× there). The
    * keyless second pass streams (keyless SortAggregate never sorts).
    * Identical output (HLL estimates are merge-order-independent, so
    * `within_rsd` is unchanged): 3.1× at sf0.1 (14.4 → 4.6 s
    * same-window A/B; the round-start bench entry was 6.0 s on a
    * quieter box). PlanShapeSpec pins the two-scan shape. The production form
    * remains [[tableProfileApproxRaw]] — approx-only, Expand-free
    * (spec-checked in RelationalSpec). */
  def tableProfileApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val cols = ProfileCols
    val exactAggs = count(lit(1)).as("n_rows") +: cols.flatMap { case (n, _) =>
      Seq((count(lit(1)) - count(col(n))).as(s"${n}__nn"),
        count_distinct(col(n)).as(s"${n}__nd"))
    }
    val streamAggs = cols.flatMap { case (n, render) =>
      Seq(approx_count_distinct(col(n), ApproxDistinctRsd).as(s"${n}__ap"),
        render(min(col(n))).as(s"${n}__mn"),
        render(max(col(n))).as(s"${n}__mx"))
    }
    val wide = o.agg(exactAggs.head, exactAggs.tail: _*)
      .crossJoin(broadcast(o.agg(streamAggs.head, streamAggs.tail: _*)))
    val stackArgs = cols.map { case (n, _) =>
      s"'$n', `${n}__nn`, `${n}__nd`, " +
        s"abs(`${n}__ap` - `${n}__nd`) <= ${3 * ApproxDistinctRsd}D * `${n}__nd`, " +
        s"`${n}__mn`, `${n}__mx`"
    }.mkString(", ")
    wide.selectExpr("n_rows",
        s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, n_distinct, within_rsd, min_s, max_s)")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("within_rsd"), col("min_s"), col("max_s"))
      .orderBy("col_name")
  }

  val tableProfileApproxSql: String = {
    val branches = ProfileColsSql.map { case (n, fmt) =>
      s"""SELECT '$n' AS col_name, count(*) AS n_rows,
         |       count(*) - count($n) AS n_nulls,
         |       count(DISTINCT $n) AS n_distinct,
         |       TRUE AS within_rsd,
         |       ${fmt.format(s"min($n)")} AS min_s,
         |       ${fmt.format(s"max($n)")} AS max_s
         |FROM orders""".stripMargin
    }
    branches.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** The production approx profile: ONE scan, every column's distinct
    * estimated by HLL in the same wide aggregate (HLL aggregates are
    * ordinary declarative aggs — no Expand, full partial/map-side
    * combine), unpivoted to the profile shape. This is the pass a user
    * points at 100 TB; [[tableProfileApprox]] is its bound-checked
    * verification twin. Estimates are engine-specific, so this leg is
    * spec-checked (RelationalSpec: values within 3·rsd of the exact
    * profile; plan single-scan and Expand-free) rather than oracled. */
  def tableProfileApproxRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val cols = ProfileCols
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { case (n, render) =>
      Seq((count(lit(1)) - count(col(n))).as(s"${n}__nn"),
        approx_count_distinct(col(n), ApproxDistinctRsd).as(s"${n}__nd"),
        render(min(col(n))).as(s"${n}__mn"),
        render(max(col(n))).as(s"${n}__mx"))
    }
    val wide = o.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { case (n, _) =>
      s"'$n', `${n}__nn`, `${n}__nd`, `${n}__mn`, `${n}__mx`"
    }.mkString(", ")
    wide.selectExpr("n_rows",
        s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, approx_distinct, min_s, max_s)")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("approx_distinct"), col("min_s"), col("max_s"))
      .orderBy("col_name")
  }

  /** DATA-QUALITY CONSTRAINT CHECKS: one row per named invariant with its
    * violation count — referential integrity (orphan foreign keys),
    * key uniqueness, value-range and NaN/empty guards across five
    * fixture tables. The "did last night's drop break the contract"
    * gate that runs before anything downstream is allowed to read.
    *
    * Shape: per-table scalar checks FUSE into one agg scan per table
    * (`count(CASE WHEN bad)` columns unpivoted by stack — never one scan
    * per check); the two referential checks are shuffle LEFT ANTI joins
    * on the foreign key (fact shuffles once; AQE handles skew; at
    * warehouse scale Spark's own InjectRuntimeFilter blooms the fact
    * scan first — [[bloomSemiJoin]] shows that machinery explicitly).
    * Output is |checks| rows — model-sized. Never broadcasts `orders` or
    * `customer` (both user-scaled).
    */
  def dqViolations(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val bad = (name: String, cond: Column) =>
      count(when(cond, lit(1))).as(name)
    val ordersChecks = orders.agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("orders_dup_orderkey"),
        bad("orders_nonpositive_price", col("o_totalprice") <= 0))
      .selectExpr("stack(2, 'orders_dup_orderkey', orders_dup_orderkey, " +
        "'orders_nonpositive_price', orders_nonpositive_price) AS (check_name, n_bad)")
    val liChecks = li.agg(
        bad("lineitem_range_violations",
          col("l_quantity") <= 0 || col("l_discount") < 0 || col("l_discount") > 1))
      .selectExpr("stack(1, 'lineitem_range_violations', lineitem_range_violations)" +
        " AS (check_name, n_bad)")
    val eventsChecks = Tables.eventsTs(spark, sfDir).agg(
        bad("events_null_user", col("user_id").isNull),
        bad("events_nonfinite_value", col("value").isNull || isnan(col("value"))))
      .selectExpr("stack(2, 'events_null_user', events_null_user, " +
        "'events_nonfinite_value', events_nonfinite_value) AS (check_name, n_bad)")
    val docChecks = Tables.documents(spark, sfDir).agg(
        bad("documents_empty_text",
          col("text").isNull || length(trim(col("text"))) === 0))
      .selectExpr("stack(1, 'documents_empty_text', documents_empty_text)" +
        " AS (check_name, n_bad)")
    val partChecks = Tables.part(spark, sfDir).agg(
        bad("part_size_range", col("p_size") < 1 || col("p_size") > 50))
      .selectExpr("stack(1, 'part_size_range', part_size_range) AS (check_name, n_bad)")
    val orphanLi = li.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
      .select(lit("lineitem_orphan_orderkey").as("check_name"), col("n_bad"))
    val orphanOrd = orders.select(col("o_custkey"))
      .join(Tables.customer(spark, sfDir).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
      .select(lit("orders_orphan_custkey").as("check_name"), col("n_bad"))
    ordersChecks.union(liChecks).union(eventsChecks).union(docChecks)
      .union(partChecks).union(orphanLi).union(orphanOrd)
      .orderBy("check_name")
  }

  /** Oracle: one UNION ALL branch per check; referential checks via
    * NOT EXISTS (NOT IN would null-absorb). */
  val dqViolationsSql: String =
    """SELECT 'orders_dup_orderkey' AS check_name,
      |       count(*) - count(DISTINCT o_orderkey) AS n_bad FROM orders
      |UNION ALL
      |SELECT 'orders_nonpositive_price', count(*) FROM orders
      |WHERE o_totalprice <= 0
      |UNION ALL
      |SELECT 'lineitem_range_violations', count(*) FROM lineitem
      |WHERE l_quantity <= 0 OR l_discount < 0 OR l_discount > 1
      |UNION ALL
      |SELECT 'events_null_user', count(*) FROM events WHERE user_id IS NULL
      |UNION ALL
      |SELECT 'events_nonfinite_value', count(*) FROM events
      |WHERE value IS NULL OR isnan(value)
      |UNION ALL
      |SELECT 'documents_empty_text', count(*) FROM documents
      |WHERE text IS NULL OR length(trim(text)) = 0
      |UNION ALL
      |SELECT 'part_size_range', count(*) FROM part
      |WHERE p_size < 1 OR p_size > 50
      |UNION ALL
      |SELECT 'lineitem_orphan_orderkey', count(*) FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'orders_orphan_custkey', count(*) FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                  WHERE c.c_custkey = o.o_custkey)
      |ORDER BY check_name""".stripMargin

  // --------------------------------------------------------------------
  // Incremental materialized-view maintenance
  // --------------------------------------------------------------------

  private val MvDeltaDays = 30

  /** INCREMENTAL MV REFRESH: maintain the monthly-revenue materialized
    * view (ship_month × returnflag → n_items, revenue) the way a
    * warehouse actually refreshes it — merge a pre-aggregated BASE state
    * with a re-aggregated DELTA (the trailing [[MvDeltaDays]] days by
    * l_shipdate) instead of recomputing from scratch. The oracle IS the
    * full recompute, so the hash gate proves base ⊎ delta ≡ full — the
    * correctness obligation of every incremental-maintenance engine.
    *
    * Scale: the base MV is bounded model state (|months·flags| rows,
    * memoized per corpus dir like the BPE merge table — computed once,
    * then every refresh touches ONLY the delta); the delta scan carries
    * a pushed-down l_shipdate range predicate, which on a
    * date-partitioned warehouse layout is partition pruning — refresh
    * cost tracks delta size, not corpus size (the [[Dedup.dedupDelta]]
    * argument, applied to aggregation state instead of an index). The
    * merge is a union of one bounded local frame with the delta agg and
    * a re-agg on the group keys — groups straddling the cutoff combine
    * exactly because count/sum are commutative monoids (the partial-agg
    * algebra Spark itself uses, applied across refresh generations). */
  def mvRefreshIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def monthAgg(df: DataFrame): DataFrame = df
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        col("l_returnflag"),
        cents(col("l_extendedprice")).as("c"))
      .groupBy("ship_month", "l_returnflag")
      .agg(count(lit(1)).as("n_items"), sum("c").as("cents"))
    val li = Tables.lineitem(spark, sfDir)
    // (cutoff date string, base rows (ship_month, returnflag, n_items,
    // cents)): |months·flags|-sized model state (~250 rows), driver-safe
    val (cutoff, baseRows) = Substrate.derived(spark, sfDir, Seq("lineitem"), "mv_base") {
      val maxStr = li.agg(
        date_format(date_sub(max(col("l_shipdate")), MvDeltaDays),
          "yyyy-MM-dd")).head().getString(0)
      val cut = if (maxStr == null) "1970-01-01" else maxStr
      val base = monthAgg(
        li.filter(col("l_shipdate") < lit(cut).cast("timestamp")))
        .as[(String, String, Long, Long)].collect().toSeq
      (cut, base)
    }
    val delta = monthAgg(
      li.filter(col("l_shipdate") >= lit(cutoff).cast("timestamp")))
    baseRows.toDF("ship_month", "l_returnflag", "n_items", "cents")
      .union(delta)
      .groupBy("ship_month", "l_returnflag")
      .agg(sum("n_items").as("n_items"), sum("cents").as("cents"))
      .select(col("ship_month"), col("l_returnflag"), col("n_items"),
        (col("cents").cast("double") / 100).as("revenue"))
      .orderBy("ship_month", "l_returnflag")
  }

  /** Oracle: the full recompute — equality proves the incremental merge
    * reconstructs it exactly, including cutoff-straddling months. */
  val mvRefreshIncrementalSql: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_returnflag,
      |       count(*) AS n_items,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
      |         / 100 AS revenue
      |FROM lineitem
      |GROUP BY 1, 2
      |ORDER BY ship_month, l_returnflag""".stripMargin

  // --------------------------------------------------------------------
  // Year-over-year growth by nation
  // --------------------------------------------------------------------

  /** YEAR-OVER-YEAR REVENUE by customer nation: each (nation, year)'s
    * order revenue beside the prior year's and the growth percentage —
    * the board-deck BI readout. Shape: one orders⋈customer join
    * (customer is user-scaled — plain key join, AQE decides broadcast),
    * a (nation, year) agg to a |nations·years| BOUNDED frame, and the
    * prior-year values via a broadcast self-join of that frame shifted
    * by one year (the [[ordersForecastSnaive]] join-shift move — a lag
    * window over the bounded frame would be equivalent; the join keeps
    * the no-corpus-window discipline uniform). First year of a nation
    * emits null growth (nothing to compare), never 0. */
  def nationRevenueYoy(spark: SparkSession, sfDir: String): DataFrame = {
    val byYear = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        year(col("o_orderdate")).as("yr"))
      .agg(sum(cents(col("o_totalprice"))).as("c"))
    val prior = byYear.select(col("nation"), (col("yr") + 1).as("yr"),
      col("c").as("c_prior"))
    byYear.join(broadcast(prior), Seq("nation", "yr"), "left")
      .select(col("nation"), col("yr"),
        (col("c").cast("double") / 100).as("revenue"),
        (col("c_prior").cast("double") / 100).as("revenue_prior"),
        Det.r((col("c") - col("c_prior")).cast("double") /
          col("c_prior") * 100, 4).as("yoy_pct"))
      .orderBy("nation", "yr")
  }

  val nationRevenueYoySql: String =
    s"""WITH y AS (SELECT c.c_nationkey AS nation,
       |                  CAST(year(o.o_orderdate) AS INTEGER) AS yr,
       |                  sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS c
       |           FROM orders o JOIN customer c
       |             ON o.o_custkey = c.c_custkey
       |           GROUP BY 1, 2)
       |SELECT a.nation, a.yr,
       |       CAST(a.c AS DOUBLE) / 100 AS revenue,
       |       CAST(b.c AS DOUBLE) / 100 AS revenue_prior,
       |       ${Det.rSql(
        "CAST(a.c - b.c AS DOUBLE) / b.c * 100", 4)} AS yoy_pct
       |FROM y a LEFT JOIN y b
       |  ON b.nation = a.nation AND b.yr = a.yr - 1
       |ORDER BY a.nation, a.yr""".stripMargin

  // --------------------------------------------------------------------
  // Full-outer reconciliation (billed vs shipped)
  // --------------------------------------------------------------------

  /** FULL OUTER RECONCILIATION — the source-vs-target ledger diff every
    * warehouse runs: revenue BILLED (orders.o_totalprice by order month
    * × customer nation) against revenue SHIPPED (lineitem charge =
    * ext·(1−disc)·(1+tax) by ship month × supplier nation), FULL OUTER
    * joined on the coalesced (month, nation) key with null-side counts
    * and an exact delta. Billing and shipping legitimately disagree by
    * construction (ship lag crosses month boundaries; the supplier's
    * nation isn't the customer's), so `side` marks rows only one ledger
    * has — the reconciliation report shape, and the one join type
    * ([[https://spark.apache.org/docs/latest/sql-ref-syntax-qry-select-join.html
    * FULL OUTER]]) the r8 matrix lacked.
    *
    * Scale: each leg is scan → (broadcastable dim join) → agg onto a
    * |months·nations| BOUNDED frame; the full-outer join runs between
    * the two bounded frames, never between facts. Exact integer money
    * end to end: billed in cents (long), shipped in cents·pct² units
    * summed in decimal(38,0) (the [[pricingSummary]] overflow note),
    * delta computed in the common 10⁻⁶-dollar unit BEFORE the one
    * double division. Amounts stay NULL on the side that lacks the key
    * (counts coalesce to 0; a null amount means "no ledger", not 0). */
  def ordersRecon(spark: SparkSession, sfDir: String): DataFrame = {
    val billed = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("c_nationkey").as("nation"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("billed_c"))
    val shipped = Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.supplier(spark, sfDir)
          .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        col("s_nationkey").as("nation"))
      .agg(count(lit(1)).as("n_lines"),
        sum((netRevE4 * (lit(100) + cents(col("l_tax")))).cast("decimal(38,0)"))
          .as("shipped_u"))
    billed.join(shipped, Seq("month", "nation"), "full_outer")
      .select(col("month"), col("nation"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        (col("billed_c").cast("double") / 100).as("billed"),
        (col("shipped_u").cast("double") / 1000000).as("shipped"),
        ((coalesce(col("billed_c"), lit(0L)).cast("decimal(38,0)") * 10000
          - coalesce(col("shipped_u"), lit(0L).cast("decimal(38,0)")))
          .cast("double") / 1000000).as("delta"),
        when(col("billed_c").isNull, lit("shipped_only"))
          .when(col("shipped_u").isNull, lit("billed_only"))
          .otherwise(lit("both")).as("side"))
      .orderBy("month", "nation")
  }

  val ordersReconSql: String =
    """WITH b AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |         c_nationkey AS nation, count(*) AS n_orders,
      |         sum(CAST(round(o_totalprice*100) AS BIGINT)) AS billed_c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS month,
      |         s_nationkey AS nation, count(*) AS n_lines,
      |         sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |             * (100 - CAST(round(l_discount*100) AS BIGINT))
      |             * (100 + CAST(round(l_tax*100) AS BIGINT))) AS shipped_u
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2)
      |SELECT COALESCE(b.month, s.month) AS month,
      |       COALESCE(b.nation, s.nation) AS nation,
      |       COALESCE(b.n_orders, 0) AS n_orders,
      |       COALESCE(s.n_lines, 0) AS n_lines,
      |       CAST(b.billed_c AS DOUBLE)/100 AS billed,
      |       CAST(s.shipped_u AS DOUBLE)/1000000 AS shipped,
      |       CAST(COALESCE(CAST(b.billed_c AS HUGEINT), 0)*10000
      |            - COALESCE(s.shipped_u, 0) AS DOUBLE)/1000000 AS delta,
      |       CASE WHEN b.billed_c IS NULL THEN 'shipped_only'
      |            WHEN s.shipped_u IS NULL THEN 'billed_only'
      |            ELSE 'both' END AS side
      |FROM b FULL OUTER JOIN s ON b.month = s.month AND b.nation = s.nation
      |ORDER BY month, nation""".stripMargin

  // --------------------------------------------------------------------
  // Seasonal-naive forecast backtest
  // --------------------------------------------------------------------

  /** The daily revenue series (day, c): orders per epoch day
    * (`datediff(o_orderdate, 1970-01-01)` — weekday is day % 7 on both
    * engines) with the exact cents sum `c`. One corpus scan into a
    * |days|-bounded frame — calendar-sized at any corpus size. Shared by
    * the forecast, CUSUM, changepoint and EWMA-anomaly queries. */
  private def dailyRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("c"))

  /** DuckDB twin of [[dailyRevenue]]: the `d` CTE its oracles open with. */
  private val dailyRevenueSql: String =
    """d AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
      |                  CAST(o_orderdate AS DATE)) AS INTEGER) AS day,
      |                  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS c
      |           FROM orders GROUP BY 1)""".stripMargin

  /** SEASONAL-NAIVE FORECAST BACKTEST: forecast each day's revenue as
    * the value seven days earlier and report the per-weekday MAE — the
    * baseline every demand-forecasting pipeline must beat, evaluated
    * the way a backtest evaluates it (walk-forward, horizon 7).
    *
    * Shape: one corpus scan into a |days|-bounded daily-revenue frame
    * (epoch-day integers — weekday is day % 7, identical on both
    * engines; named weekday functions disagree on week start), then a
    * self-join of that bounded frame shifted by 7 (broadcast — the
    * frame is calendar-sized, never corpus-sized) and a ≤ 7-row agg.
    * MAE sums exact cents; one double division + [[Det.r]] at the end. */
  def ordersForecastSnaive(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyRevenue(spark, sfDir)
    val prior = daily.select((col("day") + 7).as("day"), col("c").as("c7"))
    daily.join(broadcast(prior), "day")
      .groupBy((col("day") % 7).as("weekday"))
      .agg(count(lit(1)).as("n_days"),
        Det.r(sum(abs(col("c") - col("c7"))).cast("double") /
          count(lit(1)) / 100, 2).as("mae"))
      .orderBy("weekday")
  }

  val ordersForecastSnaiveSql: String =
    s"""WITH $dailyRevenueSql
       |SELECT a.day % 7 AS weekday, count(*) AS n_days,
       |       ${Det.rSql(
          "CAST(sum(abs(a.c - b.c)) AS DOUBLE) / count(*) / 100", 2)} AS mae
       |FROM d a JOIN d b ON b.day = a.day - 7
       |GROUP BY 1 ORDER BY weekday""".stripMargin

  // --------------------------------------------------------------------
  // Revenue concentration (Pareto share per spend decile)
  // --------------------------------------------------------------------

  /** REVENUE CONCENTRATION: for each top-spend percentile bar (10%,
    * 1%), the share of total revenue those customers hold — the
    * "do 10% of customers drive 60% of revenue" Pareto readout.
    *
    * The exact version needs a global sort + cumsum over |customers|;
    * instead spend quantises to $100 buckets (the [[rfmSegments]]
    * move — bucket count bounded by the PRICE RANGE, not the customer
    * count), and ONE bounded collect brings back each bucket's
    * customer count and cents sum as model state. The driver folds
    * everything else from those rows in exact Long arithmetic: n, the
    * totals, each bar's cutoff bucket and its (cents, count) above the
    * cutoff — no re-aggregation of the corpus per bar. A NULL bucket
    * (customers with no priced order) walks as key 0, as `getAs[Long]`
    * reads it, counts in n_cust, and never passes a bar (SQL's
    * `m_b >= cut` drops it). The 2 rows come back already in
    * `top_pct` desc order as a local frame, so execution is one
    * LocalTableScan. Quantisation semantics (both engines identical):
    * the "top p%" boundary rounds to a bucket edge, so the reported
    * customer count can exceed p% by at most one bucket's population —
    * the honest price of never sorting the corpus, stated in the
    * output (n_top is reported, not assumed). */
  def revenueParetoShare(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(sum(cents(col("o_totalprice"))).as("cents"))
      .select(col("cents"), expr("cents div 10000").as("m_b"))
    // (m_b, customers, cents, NULL bucket?), top spenders first
    val hist = Hist.bounded(
        perCust.groupBy("m_b").agg(count(lit(1)).as("cnt"),
          coalesce(sum("cents"), lit(0L)).as("s")),
        "revenue_pareto_share")
      .map(r => (r.getAs[Long]("m_b"), r.getAs[Long]("cnt"),
        r.getAs[Long]("s"), r.isNullAt(0)))
      .sortBy(v => -v._1)
    val n = hist.map(_._2).sum
    val totCents = hist.map(_._3).sum
    // empty orders: no rows, as the oracle's n > 0 guard
    val rows = (if (n == 0) Nil else Seq(0.10, 0.01)).map { p =>
      val cut = hist(Hist.nearestRank(hist.map(_._2), p).index)._1
      val top = hist.filter(b => !b._4 && b._1 >= cut)
      val (s, k) = (top.map(_._3).sum, top.map(_._2).sum)
      (p, cut * 100, k, math.floor(s.toDouble / totCents * 1e6 + 0.5) / 1e6,
        math.floor(k.toDouble / n * 1e6 + 0.5) / 1e6)
    }
    rows.toDF("top_pct", "cutoff_dollars", "n_top", "rev_share", "cust_share")
  }

  val revenueParetoShareSql: String =
    s"""WITH c AS (SELECT o_custkey,
       |                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       |                       AS BIGINT) AS cents,
       |                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       |                       // 10000 AS BIGINT) AS m_b
       |           FROM orders GROUP BY 1),
       |h AS (SELECT m_b, count(*) AS cnt FROM c GROUP BY 1),
       |w AS (SELECT m_b, cnt,
       |             sum(cnt) OVER (ORDER BY m_b DESC
       |               ROWS UNBOUNDED PRECEDING) AS cum,
       |             sum(cnt) OVER () AS n
       |      FROM h),
       |-- DOUBLE, not DuckDB's default DECIMAL literal: ceil(0.1·n) can
       |-- differ between decimal-exact and IEEE-double at rank
       |-- boundaries, and the Spark side computes in doubles
       |bars AS (SELECT unnest([CAST(0.10 AS DOUBLE),
       |                        CAST(0.01 AS DOUBLE)]) AS p),
       |cuts AS (SELECT p, (SELECT max(m_b) FROM w
       |                    WHERE cum >= ceil(p * n)) AS cut
       |         FROM bars),
       |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tc,
       |               count(*) AS nc FROM c)
       |SELECT cuts.p AS top_pct,
       |       CAST(cuts.cut * 100 AS BIGINT) AS cutoff_dollars,
       |       count(c.o_custkey) AS n_top,
       |       CAST(floor(CAST(coalesce(sum(c.cents), 0) AS DOUBLE)
       |            / tot.tc * 1e6 + 0.5) AS DOUBLE) / 1e6 AS rev_share,
       |       CAST(floor(CAST(count(c.o_custkey) AS DOUBLE)
       |            / tot.nc * 1e6 + 0.5) AS DOUBLE) / 1e6 AS cust_share
       |FROM cuts CROSS JOIN tot
       |LEFT JOIN c ON c.m_b >= cuts.cut
       |-- empty-orders guard: the Spark side short-circuits to 0 rows
       |-- when the histogram is empty; without this the keyless tot row
       |-- would fabricate two n_top=0 bars here (engine≠oracle on
       |-- degenerate input — EdgeCaseSpec pins the 0-row choice)
       |WHERE tot.nc > 0
       |GROUP BY cuts.p, cuts.cut, tot.tc, tot.nc
       |ORDER BY top_pct DESC""".stripMargin

  // --------------------------------------------------------------------
  // k-anonymity audit
  // --------------------------------------------------------------------

  private val KAnonK = 5

  /** K-ANONYMITY AUDIT: cell sizes over the quasi-identifier tuple
    * (c_nationkey, c_mktsegment) with a per-cell k≥[[KAnonK]] flag and
    * each cell's share of the table — the privacy gate run before any
    * customer extract leaves the warehouse (a cell smaller than k
    * re-identifies its members; those rows must be suppressed or
    * generalized). One grouped agg; output is |nations·segments|
    * bounded; the total is Σ n over those cells through
    * [[Hist.withTotals]] (no second scan). At 100 TB the per-cell
    * aggregation stays distributed, and at most the cap's worth of rows
    * meets in one task. */
  def kAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.customer(spark, sfDir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    Hist.withTotals(cells, "k_anonymity", sum("n").as("total"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
        (col("n") >= KAnonK).as("k_ok"),
        Det.r(col("n").cast("double") / col("total"), 6).as("share"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  val kAnonymitySql: String =
    s"""SELECT c_nationkey, c_mktsegment, count(*) AS n,
       |       count(*) >= $KAnonK AS k_ok,
       |       ${Det.rSql(
        "CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM customer)", 6)}
       |         AS share
       |FROM customer
       |GROUP BY 1, 2
       |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  private val LDivL = 3
  /** Sensitive-attribute band width in cents ($2500) and the shift that
    * keeps the banded value non-negative (c_acctbal ≥ −$1000 in the
    * schema) — NON-NEGATIVE because Spark's `div` truncates toward zero
    * while DuckDB's `//` floors, and they only agree above zero (the
    * CLAUDE.md integer-division trap). */
  private val LDivBandCents = 250000L
  private val LDivShiftCents = 100000L

  /** L-DIVERSITY AUDIT — [[kAnonymity]]'s companion: k-anonymity stops
    * re-identification, l-diversity stops ATTRIBUTE disclosure (a
    * 5-member cell whose members all share one salary band leaks the
    * salary even though no row is identifiable — Machanavajjhala et
    * al. 2007). Per quasi-identifier cell (nation × segment): size n,
    * l = distinct $2500 account-balance bands present, and the l ≥ 3
    * verdict. Same one-scan grouped-agg shape as the k audit (the
    * distinct lands in Spark's two-phase expand+agg); banding keeps the
    * sensitive domain bounded and the division exact cross-engine. */
  def lDiversity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr(s"(cast(round(c_acctbal * 100) as bigint) + $LDivShiftCents) " +
          s"div $LDivBandCents").as("band"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"), countDistinct(col("band")).as("l"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"), col("l"),
        (col("l") >= LDivL).as("l_ok"))
      .orderBy("c_nationkey", "c_mktsegment")

  val lDiversitySql: String =
    s"""SELECT c_nationkey, c_mktsegment, count(*) AS n,
       |       count(DISTINCT (CAST(round(c_acctbal * 100) AS BIGINT)
       |                       + $LDivShiftCents) // $LDivBandCents) AS l,
       |       count(DISTINCT (CAST(round(c_acctbal * 100) AS BIGINT)
       |                       + $LDivShiftCents) // $LDivBandCents) >= $LDivL AS l_ok
       |FROM customer
       |GROUP BY 1, 2
       |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** t-closeness release bar: a cell whose band distribution sits
    * within EMD 0.2 of the global one discloses (by definition) little
    * attribute information. Mirrored in the oracle literal. */
  private val TClosenessT = 0.2

  /** T-CLOSENESS: the third leg of the privacy-audit trio
    * (k-anonymity → cell sizes, l-diversity → distinct sensitive
    * values, t-closeness → DISTRIBUTION distance): per quasi-identifier
    * cell (nation × segment), the Earth Mover's Distance between the
    * cell's balance-band distribution and the global one — the audit
    * that catches a cell whose 5 distinct bands are all "broke" while
    * the corpus is not (l-diversity passes, disclosure remains).
    *
    * Determinism: EMD over an ordered attribute is
    * Σ_i |cumP_i − cumQ_i| / (m−1); proportions are micro-quantised by
    * pure positive-integer division ((cnt·10⁶) div n — Spark `div` and
    * DuckDB `//` agree on non-negatives) so every cumulative sum is an
    * exact integer and the one double division happens at the final
    * readout. Quantisation bias is < m·1e-6 — a defined metric, not an
    * approximation of one (the micro-EMD is what both engines compute
    * bit-identically).
    *
    * Scale shape: one corpus scan into three bounded aggs (cell×band,
    * cell, band — all value-bounded: ≤ |nations|·|segments| cells,
    * ≤ |balance range|/band width bands); the zero-filled grid is a
    * bounded cross join; windows run over ≤ m-row partitions. The two
    * corpus scalars (total, band count) are driver model state. */
  def tCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.customer(spark, sfDir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr(s"(cast(round(c_acctbal * 100) as bigint) + $LDivShiftCents) " +
          s"div $LDivBandCents").as("band"))
    val t = base.agg(count(lit(1)).as("tot"),
      countDistinct("band").as("m")).head()
    val tot = t.getAs[Long]("tot")
    val m = t.getAs[Long]("m")
    if (tot == 0)
      return Seq.empty[(Long, String, Long, Double, Boolean)]
        .toDF("c_nationkey", "c_mktsegment", "n", "emd", "t_ok")
    val cellBand = base.groupBy("c_nationkey", "c_mktsegment", "band")
      .agg(count(lit(1)).as("cnt"))
    val cells = base.groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
    val glob = base.groupBy("band").agg(count(lit(1)).as("gcnt"))
    val w = Window.partitionBy("c_nationkey", "c_mktsegment")
      .orderBy("band").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val emdCol =
      if (m > 1) Det.r((col("sad").cast("double") / (m - 1)) / lit(1e6), 6)
      else lit(0.0)
    cells.crossJoin(glob)
      .join(cellBand, Seq("c_nationkey", "c_mktsegment", "band"), "left")
      .na.fill(0L, Seq("cnt"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"), col("band"),
        expr("(cnt * 1000000) div n").as("p_mic"),
        expr(s"(gcnt * 1000000) div $tot").as("q_mic"))
      .withColumn("ad", abs(sum("p_mic").over(w) - sum("q_mic").over(w)))
      .groupBy("c_nationkey", "c_mktsegment", "n")
      .agg(sum("ad").as("sad"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
        emdCol.as("emd"))
      .withColumn("t_ok", col("emd") <= TClosenessT)
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** DuckDB twin of [[tCloseness]]. */
  val tClosenessSql: String =
    s"""WITH base AS (
       |  SELECT c_nationkey, c_mktsegment,
       |         (CAST(round(c_acctbal * 100) AS BIGINT) + $LDivShiftCents)
       |           // $LDivBandCents AS band
       |  FROM customer),
       |tq AS (SELECT count(*) AS tot, count(DISTINCT band) AS m FROM base),
       |cb AS (SELECT c_nationkey, c_mktsegment, band, count(*) AS cnt
       |       FROM base GROUP BY 1, 2, 3),
       |cells AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
       |          FROM base GROUP BY 1, 2),
       |gb AS (SELECT band, count(*) AS gcnt FROM base GROUP BY 1),
       |grid AS (
       |  SELECT c.c_nationkey, c.c_mktsegment, c.n, g.band,
       |         (coalesce(cb.cnt, 0) * 1000000) // c.n AS p_mic,
       |         (g.gcnt * 1000000) // (SELECT tot FROM tq) AS q_mic
       |  FROM cells c CROSS JOIN gb g
       |  LEFT JOIN cb ON cb.c_nationkey = c.c_nationkey
       |    AND cb.c_mktsegment = c.c_mktsegment AND cb.band = g.band),
       |cw AS (
       |  SELECT c_nationkey, c_mktsegment, n,
       |         abs(sum(p_mic) OVER win - sum(q_mic) OVER win) AS ad
       |  FROM grid
       |  WINDOW win AS (PARTITION BY c_nationkey, c_mktsegment
       |                 ORDER BY band ROWS UNBOUNDED PRECEDING)),
       |s2 AS (SELECT c_nationkey, c_mktsegment, n,
       |              CAST(sum(ad) AS BIGINT) AS sad
       |       FROM cw GROUP BY 1, 2, 3)
       |SELECT c_nationkey, c_mktsegment, n,
       |       CASE WHEN (SELECT m FROM tq) > 1 THEN
       |         ${Det.rSql(
            "(CAST(sad AS DOUBLE) / ((SELECT m FROM tq) - 1)) / 1000000.0", 6)}
       |       ELSE 0.0 END AS emd,
       |       CASE WHEN (SELECT m FROM tq) > 1 THEN
       |         ${Det.rSql(
            "(CAST(sad AS DOUBLE) / ((SELECT m FROM tq) - 1)) / 1000000.0", 6)}
       |       ELSE 0.0 END <= $TClosenessT AS t_ok
       |FROM s2
       |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  // --------------------------------------------------------------------
  // CUSUM change-point detection on daily revenue
  // --------------------------------------------------------------------

  /** CUSUM CHANGE-POINT DETECTION over daily revenue — the sequential
    * drift monitor (Page's cumulative sum): S_d = max(0, S_{d-1} +
    * (x_d − mean)), alarm when S exceeds 4σ·n. Flags sustained upward
    * level shifts that per-day z-scores miss.
    *
    * Exact-integer construction: the recursion is computed through the
    * identity S_d = C_d − min_{0≤j≤d} C_j with C in cents·n units
    * (dev_i = c_i·n − Σc — exact longs, so the cumulative sum is
    * order-free; a float cumsum would be engine-order-dependent:
    * DuckDB's running windows use segment trees, not left-to-right
    * folds). The series is the |days|-bounded daily frame — calendar-
    * sized model state (the skyline/quantile-histogram precedent)
    * collected through the occupancy-guarded [[Hist.bounded]], so the
    * scan+agg distributes and only the ≤ few-thousand-point recursion
    * runs on the driver; the oracle replays the identity with
    * exact-int windows. The alarm bar 4·sqrt(n·Σc²−(Σc)²) (= 4σ·n in
    * C units) derives from exact decimal moments with one
    * rounding-path-identical double conversion per engine. */
  def revenueCusum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Hist.bounded(dailyRevenue(spark, sfDir), "revenue_cusum")
      .map(r => (r.getAs[Int]("day"), r.getAs[Long]("c"))).sortBy(_._1)
    if (daily.isEmpty)
      return Seq.empty[(Int, Double, Double, Boolean)]
        .toDF("day", "revenue", "cusum", "alarm")
    val n = daily.length.toLong
    val s1 = daily.map(_._2).sum
    val s2 = daily.map(d => BigInt(d._2) * d._2).sum
    val bar = 4.0 * math.sqrt((BigInt(n) * s2 - BigInt(s1) * s1).toDouble)
    var cum = 0L
    var mn = 0L
    val rows = daily.map { case (d, c) =>
      cum += c * n - s1
      mn = math.min(mn, cum)
      val s = cum - mn
      (d, c.toDouble / 100, s, s.toDouble > bar)
    }
    rows.toSeq.toDF("day", "revenue", "s", "alarm")
      .select(col("day"), col("revenue"),
        Det.r(col("s").cast("double") / (n * 100.0), 2).as("cusum"),
        col("alarm"))
      .orderBy("day")
  }

  val revenueCusumSql: String =
    s"""WITH $dailyRevenueSql,
       |m AS (SELECT count(*) AS n, sum(c) AS s1,
       |             sum(CAST(c AS DECIMAL(38,0)) * c) AS s2
       |      FROM d),
       |cc AS (SELECT day, c,
       |              sum(c * m.n - m.s1) OVER (ORDER BY day
       |                ROWS UNBOUNDED PRECEDING) AS cum
       |       FROM d, m),
       |ss AS (SELECT day, c,
       |              cum - least(0, min(cum) OVER (ORDER BY day
       |                ROWS UNBOUNDED PRECEDING)) AS s
       |       FROM cc)
       |SELECT day, CAST(c AS DOUBLE) / 100 AS revenue,
       |       ${Det.rSql(
        "CAST(s AS DOUBLE) / ((SELECT n FROM m) * 100.0)", 2)} AS cusum,
       |       CAST(s AS DOUBLE) >
       |         4.0 * sqrt(CAST((SELECT n * s2
       |                          - CAST(s1 AS DECIMAL(38,0)) * s1 FROM m)
       |                    AS DOUBLE))
       |         AS alarm
       |FROM ss ORDER BY day""".stripMargin

  /** CHANGEPOINT DETECTION (binary segmentation, one split) on the
    * daily revenue ledger — [[revenueCusum]] raises the "something
    * shifted" alarm; this names WHEN: the split day k maximizing the
    * between-segment contrast G_k = (n·S_k − k·T)² / (k·(n−k)), the
    * single-changepoint CUSUM statistic (equivalently the SSE drop of
    * a two-mean fit; Page 1954 / binary segmentation's first cut).
    * Output is one row: the last day of the left segment, both segment
    * means and their difference — the artifact an on-call reads
    * ("revenue stepped +X $/day after day D").
    *
    * Exactness discipline: the argmax runs over EXACT integers —
    * a_k = n·S_k − k·T (cents·days, BigInt on the driver), compared by
    * cross-multiplication a_k²·(j(n−j)) vs a_j²·(k(n−k)) with ties to
    * the earlier day, so no float ever orders the argmax; the oracle
    * replays the identical comparison as a HUGEINT anti-join over the
    * bounded daily frame (a²·b ≤ ~4e35 at sf0.1 — inside int128; the
    * engine side's BigInt never overflows at any scale, and the
    * oracle's `chk` CTE error()s loudly if a future bigger fixture
    * would push max(a)²·max(b) past int128 instead of silently
    * overflow-wrapping the argmax). Segment
    * means/delta divide exact sub-2⁵³ integers in IEEE and round via
    * the shared [[Det]] floor.
    *
    * Scale shape: one corpus scan into the |days|-bounded daily agg
    * (the [[revenueCusum]] contract), collected through the
    * occupancy-guarded [[graft.queries.Hist.bounded]]; the O(|days|)
    * fold and O(|days|) argmax are driver-side model-state work —
    * calendar-bounded at any corpus size. */
  def revenueChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Hist.bounded(dailyRevenue(spark, sfDir), "revenue_changepoint")
      .map(r => (r.getAs[Int]("day"), r.getAs[Long]("c"))).sortBy(_._1)
    val n = daily.length
    val empty = Seq.empty[(Int, Long, Long, Double, Double, Double)]
      .toDF("change_day", "n_days", "left_days",
        "left_mean", "right_mean", "delta")
    if (n < 2) return empty
    val t = daily.map(d => BigInt(d._2)).sum
    var sk = BigInt(0)
    var best: (BigInt, BigInt, Int) = null // (a², k(n−k), split day)
    var bestK = 0
    var bestSk = BigInt(0)
    for (k <- 1 until n) {
      sk += daily(k - 1)._2
      val a = BigInt(n) * sk - BigInt(k) * t
      val a2 = a * a
      val den = BigInt(k) * (n - k)
      // strictly-better only: ascending k keeps the EARLIEST argmax,
      // exactly the oracle's (equal AND y.day < x.day) tie rule
      val better = best == null || a2 * best._2 > best._1 * den
      if (better) { best = (a2, den, daily(k - 1)._1); bestK = k; bestSk = sk }
    }
    val k = bestK
    def r2(num: BigInt, den: BigInt): Double =
      math.floor(num.toDouble / den.toDouble * 100 + 0.5) / 100
    val leftMean = r2(bestSk, BigInt(k) * 100)
    val rightMean = r2(t - bestSk, BigInt(n - k) * 100)
    val deltaNum = (t - bestSk) * k - bestSk * (n - k)
    val delta = r2(deltaNum, BigInt(k) * (n - k) * 100)
    Seq((best._3, n.toLong, k.toLong, leftMean, rightMean, delta))
      .toDF("change_day", "n_days", "left_days",
        "left_mean", "right_mean", "delta")
  }

  /** Oracle: the identical exact-integer argmax as a DECIMAL(38)
    * cross-multiplied anti-join over the bounded daily frame. */
  val revenueChangepointSql: String =
    s"""WITH $dailyRevenueSql,
       |m AS (SELECT count(*) AS n, sum(c) AS t FROM d),
       |cc AS (SELECT day,
       |              row_number() OVER (ORDER BY day) AS k,
       |              sum(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS sk
       |       FROM d),
       |cand AS (SELECT day, k, sk,
       |                CAST(m.n AS HUGEINT) * CAST(sk AS HUGEINT)
       |                  - CAST(k AS HUGEINT) * CAST(m.t AS HUGEINT) AS a,
       |                CAST(k AS HUGEINT) * (m.n - k) AS b
       |         FROM cc, m WHERE k < m.n),
       |best AS (SELECT * FROM cand x
       |         WHERE NOT EXISTS (
       |           SELECT 1 FROM cand y
       |           WHERE y.a * y.a * x.b > x.a * x.a * y.b
       |              OR (y.a * y.a * x.b = x.a * x.a * y.b
       |                  AND y.day < x.day)))
       |, chk AS (SELECT CASE WHEN 2 * log2(CAST(max(abs(a)) AS DOUBLE) + 1)
       |                         + log2(CAST(max(b) AS DOUBLE) + 1) >= 126
       |                      THEN error('revenue_changepoint oracle: max(a)^2*max(b) would overflow int128 (the engine BigInt path cannot) — shrink the oracle corpus')
       |                      ELSE 1 END AS ok
       |          FROM cand)
       |SELECT x.day AS change_day,
       |       m.n AS n_days,
       |       x.k AS left_days,
       |       ${Det.rSql("CAST(x.sk AS DOUBLE) / (x.k * 100.0)", 2)} AS left_mean,
       |       ${Det.rSql(
          "CAST(m.t - x.sk AS DOUBLE) / ((m.n - x.k) * 100.0)", 2)} AS right_mean,
       |       ${Det.rSql(
          "CAST((m.t - x.sk) * x.k - x.sk * (m.n - x.k) AS DOUBLE)" +
            " / (x.k * (m.n - x.k) * 100.0)", 2)} AS delta
       |FROM best x, m, chk""".stripMargin

  // --------------------------------------------------------------------
  // Z-order layout (Morton-curve multi-dimensional clustering)
  // --------------------------------------------------------------------

  private val ZBits = 16

  /** Morton interleave of two [[ZBits]]-bit ints: x occupies the even
    * bit positions, y the odd. Pure shift/and/or tree — 32 terms, all
    * inside whole-stage codegen. */
  private def morton(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  private def mortonSql(x: String, y: String): String =
    (0 until ZBits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Z-ORDER LAYOUT: quantize (o_custkey, order day) to 16 bits each,
    * interleave into a Morton z-value, and report per-z-bucket locality
    * stats (row count + the custkey/day bounding box each coarse
    * z-range covers) — the readout behind multi-dimensional data
    * clustering (Delta/Iceberg OPTIMIZE ZORDER BY): sorting by z makes
    * EVERY bucket a small rectangle in (customer, time) space, so
    * min/max row-group statistics prune scans on EITHER dimension. A
    * single-column sort gives perfect pruning on one axis and none on
    * the other; the z-curve trades to √-locality on both.
    *
    * Quantization constants (max key, day span) are 3 scalars of model
    * state (exact integer scaling — (v·2¹⁶) div (max+1) — so both
    * engines derive identical codes); the layout itself is
    * `repartitionByRange(zval)` + in-partition sort at write time
    * (ZorderSpec measures the bounding-box shrink on the actual
    * partitioning). The registered readout is one scan + one bounded
    * agg (≤ 2⁸ buckets). At 100 TB the z computation is per-row
    * codegen'd bit math — no shuffle beyond the final range partition
    * a layout rewrite pays by definition. */
  def zorderOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    // epoch-day integers end to end: date objects round-trip through
    // three JVM types depending on fixture encoding; ints don't
    val epochDay = datediff(col("o_orderdate").cast("date"),
      lit("1970-01-01").cast("date"))
    val c = o.agg(max("o_custkey").as("mk"),
      min(epochDay).as("d0"), max(epochDay).as("d1")).head()
    if (c.isNullAt(0)) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long, Long, Long)]
        .toDF("zbucket", "n", "min_cust", "max_cust", "min_day", "max_day")
    }
    val maxKey = c.getAs[Long]("mk")
    val d0 = c.getAs[Int]("d0")
    val spanDays = (c.getAs[Int]("d1") - d0).toLong
    val scale = 1L << ZBits
    val coded = o.select(col("o_custkey"),
        (epochDay - lit(d0)).cast("long").as("day"))
      .withColumn("xq", expr(s"(o_custkey * $scale) div ${maxKey + 1}"))
      .withColumn("yq", expr(s"(day * $scale) div ${spanDays + 1}"))
      .withColumn("z", morton(col("xq"), col("yq")))
    // integer div, NOT `/`+cast: Spark's long cast truncates while
    // DuckDB's double→BIGINT cast rounds — `div`/`//` agree exactly
    coded.groupBy(expr(s"z div ${1L << (2 * ZBits - 8)}").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
        min("day").as("min_day"), max("day").as("max_day"))
      .orderBy("zbucket")
  }

  val zorderOrdersSql: String = {
    val z = mortonSql("xq", "yq")
    s"""WITH c AS (SELECT max(o_custkey) AS mk,
       |                  min(CAST(o_orderdate AS DATE)) AS d0,
       |                  max(CAST(o_orderdate AS DATE)) AS d1
       |           FROM orders),
       |b AS (SELECT o_custkey,
       |             CAST(date_diff('day', c.d0,
       |                  CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
       |             (o_custkey * 65536) // (c.mk + 1) AS xq,
       |             (CAST(date_diff('day', c.d0, CAST(o_orderdate AS DATE))
       |                   AS BIGINT) * 65536)
       |               // (date_diff('day', c.d0, c.d1) + 1) AS yq
       |      FROM orders, c)
       |SELECT ($z) // ${1L << (2 * ZBits - 8)} AS zbucket,
       |       count(*) AS n,
       |       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
       |       min(day) AS min_day, max(day) AS max_day
       |FROM b GROUP BY 1 ORDER BY zbucket""".stripMargin
  }

  // --------------------------------------------------------------------
  // Window-function battery (breadth, one oracled query)
  // --------------------------------------------------------------------

  /** WINDOW-FUNCTION BATTERY: the full ranking/navigation/frame surface
    * in one query — row_number, rank/dense_rank (with ties), ntile,
    * cume_dist, lag/lead, nth_value, and first/last_value under an
    * explicit full-partition frame — all partitioned by o_custkey (the
    * [[windowTopOrders]] discipline: high-cardinality key, so the
    * corpus spreads across shuffle partitions; no global window
    * anywhere). Determinism: the navigation order is the unique
    * (o_orderdate, o_orderkey); the value-ranked functions order by
    * cents with ties resolved BY THE FUNCTION's semantics (equal ranks),
    * which both engines define identically. One shuffle on custkey; all
    * eight windows share the exchange (same partition key). */
  def windowBattery(spark: SparkSession, sfDir: String): DataFrame = {
    val nav = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byVal = Window.partitionBy("o_custkey").orderBy(col("cents"))
    val grow = nav.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = nav.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("cents"))
      .select(col("o_orderkey"), col("o_custkey"),
        row_number().over(nav).as("rn"),
        rank().over(byVal).as("rk"),
        dense_rank().over(byVal).as("drk"),
        ntile(4).over(nav).as("nt4"),
        cume_dist().over(byVal).as("cd"),
        lag("cents", 1).over(nav).as("prev_cents"),
        lead("cents", 1).over(nav).as("next_cents"),
        nth_value(col("cents"), 2).over(grow).as("second_cents"),
        first_value(col("cents")).over(full).as("first_cents"),
        last_value(col("cents")).over(full).as("last_cents"))
      .orderBy("o_orderkey")
  }

  val windowBatterySql: String =
    """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate,
      |                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |           FROM orders)
      |SELECT o_orderkey, o_custkey,
      |       row_number() OVER nav AS rn,
      |       rank() OVER byval AS rk,
      |       dense_rank() OVER byval AS drk,
      |       ntile(4) OVER nav AS nt4,
      |       cume_dist() OVER byval AS cd,
      |       lag(cents, 1) OVER nav AS prev_cents,
      |       lead(cents, 1) OVER nav AS next_cents,
      |       nth_value(cents, 2) OVER grw AS second_cents,
      |       first_value(cents) OVER ful AS first_cents,
      |       last_value(cents) OVER ful AS last_cents
      |FROM o
      |WINDOW nav AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |       byval AS (PARTITION BY o_custkey ORDER BY cents),
      |       grw AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |       ful AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // Correlation matrix (exact integer moments)
  // --------------------------------------------------------------------

  /** PAIRWISE PEARSON CORRELATION over lineitem's four numeric columns
    * in ONE scan — the feature-correlation readout every modeling
    * pipeline computes before training.
    *
    * Cross-engine-exact construction: each column integerises to its
    * 2-dp unit; all second moments (Σx², Σxy) accumulate in
    * decimal(38,0) (the [[statsAgg]] overflow lesson — a cents² sum
    * passes Long at warehouse group sizes), the correlation NUMERATORS
    * n·Σxy − Σx·Σy stay in exact decimal arithmetic, and only the
    * final three exact integers convert to double for
    * num / (sqrt(vx)·sqrt(vy)) — one identical IEEE rounding path on
    * both engines (sqrt of the PRODUCT would overflow decimal(38,0);
    * sqrt·sqrt is the equivalent factored form). Constant columns
    * (variance 0) yield null. Output: 6 rows from a keyless scalar agg
    * (the sanctioned SinglePartition shape) unpivoted by stack. */
  def corrMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq(
      "qty" -> cents(col("l_quantity")),
      "price" -> cents(col("l_extendedprice")),
      "disc" -> cents(col("l_discount")),
      "tax" -> cents(col("l_tax")))
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i)._1, cols(j)._1)
    val base = Tables.lineitem(spark, sfDir)
      .select(cols.map { case (n, e) => e.as(n) }: _*)
    val aggs = Seq(count(lit(1)).as("n")) ++
      cols.flatMap { case (n, _) => Seq(
        sum(col(n)).cast("decimal(38,0)").as(s"s_$n"),
        sum(col(n).cast("decimal(38,0)") * col(n)).as(s"ss_$n")) } ++
      pairs.map { case (a, b) =>
        sum(col(a).cast("decimal(38,0)") * col(b)).as(s"sp_${a}_$b") }
    val wide = base.agg(aggs.head, aggs.tail: _*)
    def corrExpr(a: String, b: String): Column = {
      val num = (col(s"sp_${a}_$b") * col("n") - col(s"s_$a") * col(s"s_$b"))
        .cast("double")
      def v(x: String) =
        (col(s"ss_$x") * col("n") - col(s"s_$x") * col(s"s_$x")).cast("double")
      Det.r(when(v(a) > 0 && v(b) > 0,
        num / (sqrt(v(a)) * sqrt(v(b)))), 6)
    }
    val stackArgs = pairs.map { case (a, b) =>
      s"'$a', '$b', `corr_${a}_$b`" }.mkString(", ")
    wide.select(col("*") +: pairs.map { case (a, b) =>
        corrExpr(a, b).as(s"corr_${a}_$b") }: _*)
      .selectExpr(
        s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, corr)")
      .orderBy("col_a", "col_b")
  }

  val corrMatrixSql: String = {
    val names = Seq("qty", "price", "disc", "tax")
    val units = Map(
      "qty" -> "l_quantity", "price" -> "l_extendedprice",
      "disc" -> "l_discount", "tax" -> "l_tax")
    val pairs = for {
      i <- names.indices; j <- names.indices if i < j
    } yield (names(i), names(j))
    val baseCols = names.map(n =>
      s"CAST(round(${units(n)} * 100) AS BIGINT) AS $n").mkString(",\n|                  ")
    val moments = (Seq("count(*) AS n") ++
      names.flatMap(n => Seq(
        s"CAST(sum($n) AS DECIMAL(38,0)) AS s_$n",
        s"sum(CAST($n AS DECIMAL(38,0)) * $n) AS ss_$n")) ++
      pairs.map { case (a, b) =>
        s"sum(CAST($a AS DECIMAL(38,0)) * $b) AS sp_${a}_$b" })
      .mkString(",\n|             ")
    val branches = pairs.map { case (a, b) =>
      val num = s"CAST(sp_${a}_$b * n - s_$a * s_$b AS DOUBLE)"
      def v(x: String) = s"CAST(ss_$x * n - s_$x * s_$x AS DOUBLE)"
      val corr = Det.rSql(
        s"CASE WHEN ${v(a)} > 0 AND ${v(b)} > 0 " +
          s"THEN $num / (sqrt(${v(a)}) * sqrt(${v(b)})) END", 6)
      s"SELECT '$a' AS col_a, '$b' AS col_b, $corr AS corr FROM m"
    }.mkString("\n|UNION ALL\n|")
    s"""WITH b AS (SELECT $baseCols
       |           FROM lineitem),
       |m AS (SELECT $moments
       |      FROM b)
       |$branches
       |ORDER BY col_a, col_b""".stripMargin
  }

  // --------------------------------------------------------------------
  // RFM segmentation (recency / frequency / monetary quintiles)
  // --------------------------------------------------------------------

  /** RFM SEGMENTATION: per customer, days-since-last-order (R), order
    * count (F), lifetime spend (M), each quantized to a quintile score
    * (5 = most recent / most frequent / biggest spender), plus the
    * composite RFM code — the classic CRM segmentation every marketing
    * warehouse derives.
    *
    * Quintiles WITHOUT a corpus-wide window (the
    * [[Temporal.eventsValueQuantiles]] bounded-histogram discipline): a
    * percent_rank over |customers| rows would plan the single-partition
    * funnel, so each dimension instead aggregates a VALUE histogram —
    * R in days (bounded by the corpus time span), F in orders (bounded
    * by max per-customer activity), M in $100 buckets (bounded by the
    * price range — none of the three grows with row count) — collects
    * it (≤ a few thousand rows of model state), prefix-sums
    * below/(n-1) on the driver, and broadcast-joins the (value, score)
    * map back (the three axis histograms fold into ONE exploded
    * (axis, value) aggregate — r14). The per-customer base is cached:
    * one narrow |customers| agg frame with two consumers (the fused
    * histogram + the final join);
    * uncached it would rescan orders per consumer. The corpus max date is
    * model state (the as-of span precedent). Ranks tie exactly like SQL
    * percent_rank (equal values share the below-count), so the DuckDB
    * twin uses the plain window.
    *
    * Companion: [[customerRfm]] is the POPULATION-quantile variant —
    * exact ntile(5) buckets (ties split on custkey, buckets equal
    * within 1) rolled up to the ≤125-segment marketing readout; this
    * query is the per-customer FEATURE ledger where equal metric
    * values must share a score. Same acronym, different quantile
    * semantics, different output granularity. */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, sfDir)
    val maxRow = orders.agg(max("o_orderdate")).head()
    if (maxRow.isNullAt(0)) {
      return Seq.empty[(Long, Long, Long, Double, Int, Int, Int, Int)]
        .toDF("c_custkey", "r_days", "f_orders", "m_dollars",
          "r_score", "f_score", "m_score", "rfm")
    }
    val base = orders
      .groupBy(col("o_custkey"))
      .agg(max("o_orderdate").as("last_d"),
        count(lit(1)).as("f_orders"),
        sum(cents(col("o_totalprice"))).as("cents"))
      .select(col("o_custkey"),
        datediff(lit(maxRow.get(0)).cast("date"),
          col("last_d").cast("date")).cast("long").as("r_days"),
        col("f_orders"),
        expr("cents div 10000").as("m_b"))
      .cache()
    // bounded value histogram → driver prefix-sum → (value, score) map;
    // asc=false ranks descending values (recency: newest first).
    // r14: the three per-axis histograms fold into ONE exploded
    // (axis, value) aggregate — one action against the cached base
    // instead of three (the customer_rfm fused-histogram move); the
    // per-axis driver folds and broadcast maps are unchanged.
    val hist3 = Hist.bounded(
      base.select(explode(array(
          struct(lit(0).as("ax"), col("r_days").as("v")),
          struct(lit(1).as("ax"), col("f_orders").as("v")),
          struct(lit(2).as("ax"), col("m_b").as("v")))).as("e"))
        .groupBy(col("e.ax").as("ax"), col("e.v").as("v"))
        .agg(count(lit(1)).as("n_at")),
      "rfm_segments/fused")
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    def scoreMap(ax: Int, valCol: String, asc: Boolean,
                 outCol: String): DataFrame = {
      val hist = hist3.collect { case (a, v, n) if a == ax => (v, n) }
      val sorted = if (asc) hist.sortBy(_._1) else hist.sortBy(v => -v._1)
      val n = sorted.map(_._2).sum
      var below = 0L
      val rows = sorted.map { case (v, cnt) =>
        val pr = if (n > 1) below.toDouble / (n - 1) else 0.0
        below += cnt
        val s = if (pr < 0.2) 1 else if (pr < 0.4) 2
          else if (pr < 0.6) 3 else if (pr < 0.8) 4 else 5
        (v, s)
      }
      rows.toSeq.toDF(valCol, outCol)
    }
    base
      .join(broadcast(scoreMap(0, "r_days", asc = false, "r_score")), "r_days")
      .join(broadcast(scoreMap(1, "f_orders", asc = true, "f_score")), "f_orders")
      .join(broadcast(scoreMap(2, "m_b", asc = true, "m_score")), "m_b")
      .select(col("o_custkey").as("c_custkey"), col("r_days"),
        col("f_orders"),
        (col("m_b").cast("double") * 100).as("m_dollars"),
        col("r_score"), col("f_score"), col("m_score"))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("c_custkey")
  }

  /** Oracle: plain percent_rank windows over customers (affordable at
    * oracle scale); equality proves the histogram decomposition ranks
    * and ties identically. */
  val rfmSegmentsSql: String =
    """WITH c AS (SELECT o_custkey, max(o_orderdate) AS last_d,
      |                  count(*) AS f_orders,
      |                  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |           FROM orders GROUP BY 1),
      |mx AS (SELECT max(o_orderdate) AS md FROM orders),
      |b AS (SELECT o_custkey,
      |             CAST(date_diff('day', CAST(last_d AS DATE),
      |                            CAST(md AS DATE)) AS BIGINT) AS r_days,
      |             f_orders, cents // 10000 AS m_b
      |      FROM c, mx),
      |p AS (SELECT *,
      |             percent_rank() OVER (ORDER BY r_days DESC) AS pr_r,
      |             percent_rank() OVER (ORDER BY f_orders ASC) AS pr_f,
      |             percent_rank() OVER (ORDER BY m_b ASC) AS pr_m
      |      FROM b)
      |SELECT o_custkey AS c_custkey, r_days, f_orders,
      |       CAST(m_b AS DOUBLE) * 100 AS m_dollars,
      |       CASE WHEN pr_r < 0.2 THEN 1 WHEN pr_r < 0.4 THEN 2
      |            WHEN pr_r < 0.6 THEN 3 WHEN pr_r < 0.8 THEN 4
      |            ELSE 5 END AS r_score,
      |       CASE WHEN pr_f < 0.2 THEN 1 WHEN pr_f < 0.4 THEN 2
      |            WHEN pr_f < 0.6 THEN 3 WHEN pr_f < 0.8 THEN 4
      |            ELSE 5 END AS f_score,
      |       CASE WHEN pr_m < 0.2 THEN 1 WHEN pr_m < 0.4 THEN 2
      |            WHEN pr_m < 0.6 THEN 3 WHEN pr_m < 0.8 THEN 4
      |            ELSE 5 END AS m_score,
      |       (CASE WHEN pr_r < 0.2 THEN 1 WHEN pr_r < 0.4 THEN 2
      |             WHEN pr_r < 0.6 THEN 3 WHEN pr_r < 0.8 THEN 4
      |             ELSE 5 END) * 100 +
      |       (CASE WHEN pr_f < 0.2 THEN 1 WHEN pr_f < 0.4 THEN 2
      |             WHEN pr_f < 0.6 THEN 3 WHEN pr_f < 0.8 THEN 4
      |             ELSE 5 END) * 10 +
      |       (CASE WHEN pr_m < 0.2 THEN 1 WHEN pr_m < 0.4 THEN 2
      |             WHEN pr_m < 0.6 THEN 3 WHEN pr_m < 0.8 THEN 4
      |             ELSE 5 END) AS rfm
      |FROM p ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------------
  // TPC-H classics (Q3 / Q14 / Q4-shape / Q15) — the canonical decision-
  // support shapes a reference user would expect any engine to run
  // --------------------------------------------------------------------

  private val ShipSegment = "BUILDING"

  /** SHIPPING PRIORITY (TPC-H Q3 shape): the 10 highest-revenue orders
    * in the BUILDING segment that were placed before the cut date but
    * (partly) shipped after it — the unshipped-backlog report. Shape:
    * customer (segment filter, broadcastable after the filter at
    * warehouse scale it shuffles — AQE decides) ⋈ orders (date filter
    * pushed to the scan) ⋈ lineitem (date filter pushed likewise), agg
    * to per-order revenue, then TakeOrderedAndProject top-10 — a
    * per-partition partial top-k merged on the driver, NOT a global
    * sort. Revenue is exact integer cents·(100−disc) summed as
    * decimal(38,0), one final division; ties broken on o_orderkey. */
  def shippingPriority(spark: SparkSession, sfDir: String,
                       segment: String = ShipSegment): DataFrame = {
    val cut = lit("1998-01-01").cast("timestamp")
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === segment).select("c_custkey")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"),
        netRevE4.cast("decimal(38,0)").as("rev_e4"))
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .agg((sum(col("rev_e4")).cast("double") / 10000).as("revenue"))
      .select("o_orderkey", "order_date", "o_orderpriority", "revenue")
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  val shippingPrioritySql: String =
    """SELECT o.o_orderkey,
      |       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |       o.o_orderpriority,
      |       CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)
      |                * (100 - CAST(round(l.l_discount*100) AS BIGINT)))
      |            AS DOUBLE) / 10000 AS revenue
      |FROM customer c
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l.l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** PROMO REVENUE SHARE (TPC-H Q14 shape), per ship year: what
    * fraction of shipped charge came from PROMO-type parts. One
    * broadcast dim join (part carries only a boolean after projection),
    * exact integer cents·(100−disc) sums split by the promo flag via
    * conditional aggregation, the single double division at the end on
    * the |years|-bounded frame. 100 TB: the fact scans once, the dim
    * broadcast is |parts| — at warehouse scale part is user-scaled, so
    * the flag join falls back to shuffle and the agg is unchanged. */
  def promoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val flag = Tables.part(spark, sfDir)
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), year(col("l_shipdate")).as("yr"),
        netRevE4.cast("decimal(38,0)").as("rev_e4"))
      .join(broadcast(flag), col("l_partkey") === col("p_partkey"))
      .groupBy("yr")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_promo"), col("rev_e4")).otherwise(lit(0)))
          .as("promo_e4"),
        sum(col("rev_e4")).as("total_e4"))
      .select(col("yr"), col("n_lines"),
        (col("promo_e4").cast("double") / 10000).as("promo_revenue"),
        Det.r(col("promo_e4").cast("double") * 100 /
          col("total_e4").cast("double"), 4).as("promo_pct"))
      .orderBy("yr")
  }

  val promoRevenueSql: String =
    s"""WITH l AS (SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
       |                  p.p_type = 'PROMO' AS is_promo,
       |                  CAST(round(l_extendedprice*100) AS BIGINT)
       |                  * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev_e4
       |           FROM lineitem JOIN part p ON l_partkey = p.p_partkey)
       |SELECT yr, count(*) AS n_lines,
       |       CAST(sum(CASE WHEN is_promo THEN rev_e4 ELSE 0 END) AS DOUBLE)
       |         / 10000 AS promo_revenue,
       |       ${Det.rSql(
        "CAST(sum(CASE WHEN is_promo THEN rev_e4 ELSE 0 END) AS DOUBLE) " +
          "* 100 / CAST(sum(rev_e4) AS DOUBLE)", 4)} AS promo_pct
       |FROM l GROUP BY yr ORDER BY yr""".stripMargin

  /** Shared "late" ship-lag default (days) — the Scala default AND the
    * value interpolated into both oracle strings, so changing it cannot
    * desynchronize engine and oracle (the $AttributionWindowUs
    * pattern). Declared ABOVE the SQL vals that interpolate it: a
    * strict val referencing a constant declared lower in the same
    * object captures it uninitialized (CLAUDE.md trap). */
  private[graft] val LateLagDays = 90

  /** LATE-ORDER PRIORITY COUNT (TPC-H Q4 shape, adapted — the fixtures
    * carry no commit/receipt dates, so "late" = any line shipped more
    * than 90 days after the order date): orders placed in 1997 with at
    * least one late line, counted per priority. The EXISTS is a LEFT
    * SEMI join on the order key with the ship-lag inequality as the
    * extra join predicate — one equi-shuffle, the semi short-circuits
    * per probe row, no fact×fact blowup and no distinct needed. */
  def lateOrderPriority(spark: SparkSession, sfDir: String,
                        lagDays: Int = LateLagDays): DataFrame = {
    require(lagDays >= 0, s"lagDays must be nonnegative, got $lagDays")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") +
            expr(s"INTERVAL $lagDays DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy("o_orderpriority")
  }

  def lateOrderPrioritySqlFor(lagDays: Int): String =
    s"""SELECT o_orderpriority, count(*) AS n_late_orders
       |FROM orders o
       |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |  AND EXISTS (SELECT 1 FROM lineitem l
       |              WHERE l.l_orderkey = o.o_orderkey
       |                AND l.l_shipdate > o.o_orderdate + INTERVAL $lagDays DAY)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** TOP SUPPLIER (TPC-H Q15 shape): the supplier(s) with maximum
    * shipped revenue in 1997 — ALL ties kept, the Q15 semantics that
    * makes this a max-subquery shape rather than a top-1 sort. Revenue
    * per supplier aggregates to a |suppliers|-bounded frame in exact
    * integer units; the max is a 1-row broadcast cross join against
    * that bounded frame (integer compare — no double equality); the
    * name join is a broadcast dim join. No corpus-wide window, no
    * global sort funnel. */
  def topSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(netRevE4.cast("decimal(38,0)")).as("rev_e4"))
    val mx = rev.agg(max("rev_e4").as("max_e4"))
    rev.crossJoin(broadcast(mx))
      .filter(col("rev_e4") === col("max_e4"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select("s_suppkey", "s_name")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_e4").cast("double") / 10000).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  val topSupplierSql: String =
    """WITH rev AS (SELECT l_suppkey,
      |                    sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                        * (100 - CAST(round(l_discount*100) AS BIGINT)))
      |                      AS rev_e4
      |             FROM lineitem
      |             WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |               AND l_shipdate < TIMESTAMP '1998-01-01'
      |             GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name,
      |       CAST(r.rev_e4 AS DOUBLE) / 10000 AS total_revenue
      |FROM rev r
      |JOIN supplier s ON s.s_suppkey = r.l_suppkey
      |WHERE r.rev_e4 = (SELECT max(rev_e4) FROM rev)
      |ORDER BY s.s_suppkey""".stripMargin

  /** WAITING SUPPLIER (TPC-H Q21 shape): on orders served by at least
    * two suppliers, the suppliers who were the SOLE late shipper —
    * per-supplier counts of orders they alone held up. The classic
    * formulation is a double-correlated EXISTS / NOT EXISTS; here it
    * decomposes declaratively into two bounded aggregations — per
    * (order, supplier) late flags, then per-order supplier/late counts —
    * and a narrow qualifying join, which is both the idiomatic Spark
    * plan and engine-equal SQL (no correlated-subquery execution
    * differences to paper over). "Late" = shipped more than 90 days
    * after the order date, the [[lateOrderPriority]] convention (the
    * fixtures carry no commit/receipt dates).
    *
    * Scale: one orders⋈lineitem equi join (bucketable on the order
    * key), partial-agg-friendly groupBys on (order, supplier) then
    * order, narrow int rows through every shuffle, broadcast supplier
    * dim at the end; output ≤ |suppliers|. */
  def waitingSupplier(spark: SparkSession, sfDir: String,
                      lagDays: Int = LateLagDays): DataFrame = {
    require(lagDays >= 0, s"lagDays must be nonnegative, got $lagDays")
    val os = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(
        col("l_shipdate") > col("o_orderdate") +
          expr(s"INTERVAL $lagDays DAYS"),
        1L).otherwise(0L)).as("late"))
    val perOrder = os.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_suppliers"), sum("late").as("n_late"))
    os.filter(col("late") === 1)
      .join(perOrder.filter(col("n_suppliers") >= 2 && col("n_late") === 1)
        .select("l_orderkey"), "l_orderkey")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select("s_suppkey", "s_name")), col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "numwait")
      .orderBy(col("numwait").desc, col("s_suppkey").asc)
  }

  def waitingSupplierSqlFor(lagDays: Int): String =
    s"""WITH os AS (SELECT l_orderkey AS okey, l_suppkey AS skey,
       |                   max(CASE WHEN l_shipdate >
       |                              o_orderdate + INTERVAL $lagDays DAY
       |                            THEN 1 ELSE 0 END) AS late
      |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |            GROUP BY 1, 2),
      |po AS (SELECT okey, count(*) AS n_suppliers, sum(late) AS n_late
      |       FROM os GROUP BY 1)
      |SELECT s.s_suppkey, s.s_name, count(*) AS numwait
      |FROM os JOIN po USING (okey)
      |JOIN supplier s ON s.s_suppkey = os.skey
      |WHERE os.late = 1 AND po.n_suppliers >= 2 AND po.n_late = 1
      |GROUP BY 1, 2
      |ORDER BY numwait DESC, s_suppkey ASC""".stripMargin

  /** MONTHLY ORDER BACKLOG — the interval-accounting ledger (how many
    * orders are open at each month end, and how much value they hold):
    * cumulative placements minus cumulative completions, where an
    * order completes at greatest(last ship date, placement date) (the
    * fixture ships some lines before the order date — the greatest()
    * clamp keeps an order open from placement, never negative-age;
    * orders with no lines never complete and honestly sit in the
    * backlog forever). Shape: one per-order completion agg (orderkey
    * shuffle), two |months|-bounded monthly aggs full-outer-merged,
    * cumulative sums via the month≤month broadcast self-join on the
    * bounded frame — the no-corpus-window discipline — and exact cents
    * throughout. */
  def orderBacklogMonthly(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("price_c"))
    val placed = ord
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_placed"), sum("price_c").as("placed_c"))
    val completed = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("last_ship"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(greatest(col("last_ship"), col("o_orderdate")),
        "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_completed"), sum("price_c").as("completed_c"))
    val monthly = placed.join(completed, Seq("month"), "full_outer")
      .select(col("month"),
        coalesce(col("n_placed"), lit(0L)).as("n_placed"),
        coalesce(col("placed_c"), lit(0L)).as("placed_c"),
        coalesce(col("n_completed"), lit(0L)).as("n_completed"),
        coalesce(col("completed_c"), lit(0L)).as("completed_c"))
    monthly.join(broadcast(monthly.select(col("month").as("m2"),
        col("n_placed").as("p2"), col("placed_c").as("pc2"),
        col("n_completed").as("c2"), col("completed_c").as("cc2"))),
        col("m2") <= col("month"))
      .groupBy("month", "n_placed", "n_completed")
      .agg((sum("p2") - sum("c2")).as("backlog_orders"),
        ((sum("pc2") - sum("cc2")).cast("double") / 100).as("backlog_value"))
      .select("month", "n_placed", "n_completed",
        "backlog_orders", "backlog_value")
      .orderBy("month")
  }

  val orderBacklogMonthlySql: String =
    """WITH ord AS (SELECT o_orderkey, o_orderdate,
      |                    CAST(round(o_totalprice*100) AS BIGINT) AS price_c
      |             FROM orders),
      |placed AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |                  count(*) AS n_placed,
      |                  CAST(sum(price_c) AS BIGINT) AS placed_c
      |           FROM ord GROUP BY 1),
      |done AS (SELECT strftime(greatest(ls.last_ship, o.o_orderdate),
      |                         '%Y-%m') AS month,
      |                count(*) AS n_completed,
      |                CAST(sum(o.price_c) AS BIGINT) AS completed_c
      |         FROM (SELECT l_orderkey, max(l_shipdate) AS last_ship
      |               FROM lineitem GROUP BY 1) ls
      |         JOIN ord o ON o.o_orderkey = ls.l_orderkey
      |         GROUP BY 1),
      |monthly AS (SELECT coalesce(p.month, d.month) AS month,
      |                   coalesce(p.n_placed, 0) AS n_placed,
      |                   coalesce(p.placed_c, 0) AS placed_c,
      |                   coalesce(d.n_completed, 0) AS n_completed,
      |                   coalesce(d.completed_c, 0) AS completed_c
      |            FROM placed p FULL OUTER JOIN done d ON p.month = d.month)
      |SELECT a.month, a.n_placed, a.n_completed,
      |       CAST(sum(b.n_placed) - sum(b.n_completed) AS BIGINT)
      |         AS backlog_orders,
      |       CAST(sum(b.placed_c) - sum(b.completed_c) AS DOUBLE) / 100
      |         AS backlog_value
      |FROM monthly a JOIN monthly b ON b.month <= a.month
      |GROUP BY a.month, a.n_placed, a.n_completed
      |ORDER BY a.month""".stripMargin

  /** SUPPLIER CONCENTRATION (HHI) per ship year — the
    * market-concentration readout (Herfindahl–Hirschman index:
    * Σ share², 1/|suppliers| = perfectly even, 1 = monopoly) a
    * procurement warehouse watches for vendor risk. Per-supplier-year
    * revenue aggregates in exact cents; each share is micro-integerised
    * to ppm FIRST (one fixed-parenthesization IEEE product/division +
    * floor, the two-floor-banding discipline), so the quadratic sum is
    * exact integer arithmetic — never a float Σx² whose magnitude
    * outruns the 2⁵³ mantissa. Frames: |suppliers·years| then |years|,
    * both bounded; the only fact-sized work is the first scan+agg. */
  def supplierHhi(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .groupBy(year(col("l_shipdate")).as("yr"), col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("c"))
    val tot = rev.groupBy("yr").agg(sum("c").as("tot"),
      count(lit(1)).as("n_suppliers"))
    rev.join(broadcast(tot), "yr")
      .withColumn("share_ppm",
        floor(col("c").cast("double") * 1e6 / col("tot").cast("double") + 0.5)
          .cast("long"))
      .groupBy("yr", "n_suppliers", "tot")
      .agg(sum(col("share_ppm") * col("share_ppm")).as("hhi_p12"))
      .select(col("yr"), col("n_suppliers"),
        (col("tot").cast("double") / 100).as("total_revenue"),
        Det.r(col("hhi_p12").cast("double") / 1e12, 6).as("hhi"))
      .orderBy("yr")
  }

  val supplierHhiSql: String =
    s"""WITH rev AS (SELECT CAST(year(l_shipdate) AS INTEGER) AS yr, l_suppkey,
       |                    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT))
       |                         AS BIGINT) AS c
       |             FROM lineitem GROUP BY 1, 2),
       |tot AS (SELECT yr, CAST(sum(c) AS BIGINT) AS tot,
       |               count(*) AS n_suppliers
       |        FROM rev GROUP BY 1),
       |sh AS (SELECT r.yr, t.n_suppliers, t.tot,
       |              CAST(floor(CAST(r.c AS DOUBLE) * 1e6
       |                         / CAST(t.tot AS DOUBLE) + 0.5) AS BIGINT)
       |                AS share_ppm
       |       FROM rev r JOIN tot t USING (yr))
       |SELECT yr, n_suppliers,
       |       CAST(tot AS DOUBLE) / 100 AS total_revenue,
       |       ${Det.rSql(
        "CAST(sum(share_ppm * share_ppm) AS DOUBLE) / 1e12", 6)} AS hhi
       |FROM sh GROUP BY yr, n_suppliers, tot
       |ORDER BY yr""".stripMargin

  /** ROBUST REVENUE TREND (Theil–Sen): the median of all pairwise
    * day-to-day slopes of daily order revenue, plus the matching
    * median intercept — the trend estimator a few corrupted days
    * cannot drag (OLS moves with every outlier; the pairwise-slope
    * median has a 29% breakdown point). The daily frame is
    * CALENDAR-BOUNDED (|days|, not corpus-sized), so the all-pairs
    * slope set (|days|²/2) is model-state-sized no matter how many
    * orders exist — the one place an O(n²) construction is free at
    * 100 TB. Each slope is micro-integerised per pair (exact integer
    * inputs, one fixed-parenthesization IEEE division), medians are
    * the exact interpolated percentile both engines share
    * ([[percentilePrices]] precedent), and the intercept reuses the
    * 1-row slope as broadcast model state. Empty corpus → zero rows. */
  def revenueTrendTheilSen(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1995-01-01").cast("date")).as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("c"))
    val pairs = daily.select(col("d").as("d1"), col("c").as("c1"))
      .join(daily.select(col("d").as("d2"), col("c").as("c2")),
        col("d1") < col("d2"))
      .select(floor((col("c2") - col("c1")).cast("double") * 1e6 /
        (col("d2") - col("d1")) + 0.5).cast("long").as("slope_u"))
      // bounded (|days|²/2 rows of one long — ~23 MB at the full
      // calendar) and read by four selection passes: cache is measured
      // model state, not a corpus-sized frame
      .cache()
    val nPairs = pairs.count()
    val slopeMed =
      graft.operators.Selection.quantileCont(pairs, "slope_u", 0.5, nPairs)
    pairs.unpersist()
    val slopeCol = slopeMed.map(lit).getOrElse(lit(null).cast("double"))
    val inter = daily
      .select((col("c").cast("double") * 1e6 - slopeCol * col("d")).as("i_u"))
      .agg(count(lit(1)).as("n_days"),
        expr("percentile(i_u, 0.5D)").as("i_u_med"))
    inter.filter(col("n_days") > 0)
      .select(col("n_days"), lit(nPairs).as("n_pairs"),
        Det.r(slopeCol / 1e8, 6).as("slope_dollars_per_day"),
        Det.r(col("i_u_med") / 1e8, 4).as("intercept_dollars"))
  }

  /** DuckDB twin — quantile_cont shares Spark percentile's p·(n−1)
    * interpolation on the identical integer micro samples. */
  val revenueTrendTheilSenSql: String =
    s"""WITH daily AS (SELECT date_diff('day', DATE '1995-01-01',
       |                                CAST(o_orderdate AS DATE)) AS d,
       |                      CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
       |                           AS BIGINT) AS c
       |               FROM orders GROUP BY 1),
       |pairs AS (SELECT CAST(floor(CAST(b.c - a.c AS DOUBLE) * 1e6
       |                            / (b.d - a.d) + 0.5) AS BIGINT) AS slope_u
       |          FROM daily a JOIN daily b ON a.d < b.d),
       |sl AS (SELECT count(*) AS n_pairs,
       |              quantile_cont(slope_u, 0.5) AS slope_u_med
       |       FROM pairs),
       |iv AS (SELECT n_pairs, slope_u_med, count(*) AS n_days,
       |              quantile_cont(CAST(c AS DOUBLE) * 1e6
       |                            - slope_u_med * d, 0.5) AS i_u_med
       |       FROM daily CROSS JOIN sl
       |       GROUP BY 1, 2)
       |SELECT n_days, n_pairs,
       |       ${Det.rSql("slope_u_med / 1e8", 6)} AS slope_dollars_per_day,
       |       ${Det.rSql("i_u_med / 1e8", 4)} AS intercept_dollars
       |FROM iv WHERE n_days > 0""".stripMargin

  /** Benford first-digit probabilities in exact ppb (⌊log₁₀(1+1/d)·10⁹+0.5⌋)
    * — literal constants shared by the Spark expression and the oracle so
    * neither engine evaluates log10 at query time (libm last-ulp trap). */
  private val BenfordPpb: Seq[(Int, Long)] = Seq(
    1 -> 301029996L, 2 -> 176091259L, 3 -> 124938737L, 4 -> 96910013L,
    5 -> 79181246L, 6 -> 66946790L, 7 -> 57991947L, 8 -> 51152522L,
    9 -> 45757491L)

  /** BENFORD FIRST-DIGIT AUDIT over order totals — the fraud/data-quality
    * forensic every finance warehouse runs: naturally-occurring amounts
    * follow log₁₀(1+1/d) leading-digit frequencies; fabricated or
    * unit-mangled loads don't. The first digit is extracted from the
    * EXACT integer cents via string head (no log10 at query time — the
    * Benford expectations are shared literal ppb constants), so both
    * engines bin identically. One corpus scan partial-aggregates to 9
    * rows; everything downstream (dense digit grid left-joined so a
    * missing digit reads obs=0 rather than vanishing, per-digit χ²
    * terms) is model-state-sized. The χ² term is one fixed
    * parenthesization over exact integer inputs, micro-rounded (Det.r);
    * the grid is gated on n>0 so an empty corpus emits zero rows, not a
    * phantom grid. n = Σ n_obs rides [[Hist.withTotals]] over the 9-row
    * grid. At 100 TB: scan + 9-row shuffle — the per-digit aggregation
    * stays distributed, and at most the cap's worth of rows meets in one
    * task. */
  def benfordAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val obs = Tables.orders(spark, sfDir)
      .select(cents(col("o_totalprice")).as("c"))
      .filter(col("c") > 0)
      .groupBy(substring(col("c").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val grid = spark.range(1, 10).select(col("id").cast("int").as("digit"),
      element_at(
        array(BenfordPpb.map { case (_, p) => lit(p) }: _*),
        col("id").cast("int")).as("p_ppb"))
    val e = col("n").cast("double") * col("p_ppb") / 1e9
    val diff = col("n_obs").cast("double") - e
    // every positive amount's first digit is in 1..9: Σ over the grid is n
    val cells = grid.join(obs, Seq("digit"), "left").na.fill(0L, Seq("n_obs"))
    Hist.withTotals(cells, "benford_audit", sum("n_obs").as("n"))
      .filter(col("n") > 0)
      .select(col("digit"), col("n"), col("n_obs"), col("p_ppb"),
        floor(col("n_obs").cast("double") * 1e9 / col("n") + 0.5)
          .cast("long").as("obs_ppb"),
        Det.r(e, 4).as("exp_count"),
        Det.r(diff * diff / e, 6).as("chi2_term"))
      .orderBy("digit")
  }

  val benfordAuditSql: String = {
    val vals = BenfordPpb.map { case (d, p) => s"($d, ${p}::BIGINT)" }
      .mkString(", ")
    s"""WITH obs AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
       |                      AS digit,
       |                    count(*) AS n_obs
       |             FROM (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS c
       |                   FROM orders) WHERE c > 0 GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs),
       |bp AS (SELECT * FROM (VALUES $vals) AS t(digit, p_ppb)),
       |g AS (SELECT bp.digit, bp.p_ppb, t.n,
       |             coalesce(o.n_obs, 0) AS n_obs,
       |             CAST(t.n AS DOUBLE) * bp.p_ppb / 1e9 AS e
       |      FROM bp CROSS JOIN tot t
       |      LEFT JOIN obs o ON o.digit = bp.digit
       |      WHERE t.n > 0)
       |SELECT digit, n, n_obs, p_ppb,
       |       CAST(floor(CAST(n_obs AS DOUBLE) * 1e9 / n + 0.5) AS BIGINT)
       |         AS obs_ppb,
       |       ${Det.rSql("e", 4)} AS exp_count,
       |       ${Det.rSql("(CAST(n_obs AS DOUBLE) - e) * (CAST(n_obs AS DOUBLE) - e) / e", 6)}
       |         AS chi2_term
       |FROM g ORDER BY digit""".stripMargin
  }

  /** REVENUE BRIDGE (price/volume decomposition) per nation,
    * year-over-year — the FP&A "why did revenue move" waterfall:
    * ΔR = volume effect (Q₁−Q₀)·p₀ + price effect Q₁·(p₁−p₀), with
    * p_i = R_i/Q_i the realized average price. The two effects sum to
    * ΔR exactly by construction (telescoping identity), which the spec
    * pins. Revenue aggregates in exact cents and quantity in exact
    * centi-units, so the only float work is the two average-price
    * divisions — fixed-parenthesization IEEE ops on exact integer
    * inputs, micro-rounded (Det.r) per effect. The fact-sized work is
    * one lineitem⋈orders⋈customer scan-join (shuffles on the join
    * keys, nation broadcast); the bridge self-join runs on the
    * |nations·years| frame — model state. At 100 TB the plan is the
    * same three-table star join every revenue query pays; nothing
    * downstream grows with rows. */
  def revenueBridge(spark: SparkSession, sfDir: String): DataFrame = {
    val yearly = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
      .agg(sum(cents(col("l_extendedprice"))).as("r"),
        sum(cents(col("l_quantity"))).as("q"))
    val cur = yearly.select(col("n_name"), col("yr"),
      col("r").as("r1"), col("q").as("q1"))
    val prev = yearly.select(col("n_name"), (col("yr") + 1).as("yr"),
      col("r").as("r0"), col("q").as("q0"))
    val p0 = col("r0").cast("double") / col("q0")
    val p1 = col("r1").cast("double") / col("q1")
    cur.join(prev, Seq("n_name", "yr"))
      .select(col("n_name"), col("yr"),
        (col("r1").cast("double") / 100).as("rev_cur"),
        (col("r0").cast("double") / 100).as("rev_prev"),
        col("q1").as("qty_cur_c"), col("q0").as("qty_prev_c"),
        ((col("r1") - col("r0")).cast("double") / 100).as("delta_rev"),
        Det.r((col("q1") - col("q0")).cast("double") * p0 / 100, 4)
          .as("volume_effect"),
        Det.r(col("q1").cast("double") * (p1 - p0) / 100, 4)
          .as("price_effect"))
      .orderBy("n_name", "yr")
  }

  val revenueBridgeSql: String =
    s"""WITH yearly AS (
       |  SELECT n.n_name, CAST(year(o.o_orderdate) AS INTEGER) AS yr,
       |         CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT))
       |              AS BIGINT) AS r,
       |         CAST(sum(CAST(round(l.l_quantity*100) AS BIGINT))
       |              AS BIGINT) AS q
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  GROUP BY 1, 2)
       |SELECT a.n_name, a.yr,
       |       CAST(a.r AS DOUBLE) / 100 AS rev_cur,
       |       CAST(b.r AS DOUBLE) / 100 AS rev_prev,
       |       a.q AS qty_cur_c, b.q AS qty_prev_c,
       |       CAST(a.r - b.r AS DOUBLE) / 100 AS delta_rev,
       |       ${Det.rSql(
        "CAST(a.q - b.q AS DOUBLE) * (CAST(b.r AS DOUBLE) / b.q) / 100", 4)}
       |         AS volume_effect,
       |       ${Det.rSql(
        "CAST(a.q AS DOUBLE) * (CAST(a.r AS DOUBLE) / a.q - CAST(b.r AS DOUBLE) / b.q) / 100", 4)}
       |         AS price_effect
       |FROM yearly a JOIN yearly b
       |  ON a.n_name = b.n_name AND a.yr = b.yr + 1
       |ORDER BY a.n_name, a.yr""".stripMargin

  /** EWMA window length in days: weights 2^(K−k) for lag k ∈ 1..K are
    * exact in binary, so the smoothed numerator is pure integer
    * arithmetic — no float recurrence whose rounding order could
    * diverge cross-engine. Denominator 2^K − 1. */
  private val EwmaK = 16
  private val EwmaDen = (1L << EwmaK) - 1

  /** EWMA REVENUE ANOMALY ALERTS — the ops-dashboard smoother: daily
    * order revenue vs a 16-day exponentially-weighted moving average
    * (truncated to the window where binary weights 2^(K−k) make it
    * EXACT integer arithmetic — a float EWMA recurrence is
    * engine-order-dependent, this one never rounds). A day alerts as
    * `spike` when revenue > 2× its EWMA and `dip` when < ½× — the
    * multiplicative band that survives level shifts. The daily frame
    * is CALENDAR-BOUNDED (gap days coalesce to 0 revenue so lags are
    * true day offsets); the EWMA is built by exploding each day's
    * revenue into its 16 forward (target-day, weight·revenue)
    * contributions and re-grouping — a calendar-sized shuffle, no
    * SinglePartition window, no recurrence. Only days with a full
    * 16-day history alert. At 100 TB the only fact-sized work is the
    * initial scan+agg; everything after is |days| ≤ ~10⁴ rows. */
  def revenueEwmaAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyRevenue(spark, sfDir)
    val bounds = daily.agg(min("day").as("lo"), max("day").as("hi"))
    val cal = bounds
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      .join(daily, Seq("day"), "left")
      .na.fill(0L, Seq("c"))
    val contrib = cal
      .select(col("day"), col("c"),
        explode(sequence(lit(1), lit(EwmaK))).as("k"))
      .select((col("day") + col("k")).as("day"),
        (col("c") * expr(s"shiftleft(1L, $EwmaK - k)")).as("w"))
    val num = contrib.groupBy("day").agg(sum("w").as("num"))
    cal.join(num, Seq("day"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") >= col("lo") + EwmaK)
      .filter(col("c") * EwmaDen > lit(2L) * col("num") ||
        lit(2L) * col("c") * EwmaDen < col("num"))
      .select(date_add(lit("1970-01-01").cast("date"), col("day")).as("day"),
        (col("c").cast("double") / 100).as("revenue"),
        Det.r(col("num").cast("double") / EwmaDen / 100, 4).as("ewma"),
        when(col("c") * EwmaDen > lit(2L) * col("num"), lit("spike"))
          .otherwise(lit("dip")).as("direction"),
        when(col("num") > 0,
          floor(col("c").cast("double") * EwmaDen * 1e6 / col("num") + 0.5)
            .cast("long")).as("ratio_ppm"))
      .orderBy("day")
  }

  val revenueEwmaAnomalySql: String =
    s"""WITH d AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
       |                  CAST(o_orderdate AS DATE)) AS INTEGER) AS day,
       |                  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
       |                       AS BIGINT) AS c
       |           FROM orders GROUP BY 1),
       |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
       |cal AS (SELECT CAST(unnest(generate_series(b.lo, b.hi)) AS INTEGER)
       |          AS day FROM b),
       |cf AS (SELECT cal.day, coalesce(d.c, 0) AS c
       |       FROM cal LEFT JOIN d USING (day)),
       |contrib AS (SELECT cf.day + k.k AS day,
       |                   cf.c * (1::BIGINT << ($EwmaK - k.k)) AS w
       |            FROM cf CROSS JOIN
       |              (SELECT unnest(generate_series(1, $EwmaK)) AS k) k),
       |n16 AS (SELECT day, CAST(sum(w) AS BIGINT) AS num
       |        FROM contrib GROUP BY 1),
       |j AS (SELECT cf.day, cf.c, n.num
       |      FROM cf JOIN n16 n USING (day), b
       |      WHERE cf.day >= b.lo + $EwmaK)
       |SELECT DATE '1970-01-01' + j.day AS day,
       |       CAST(c AS DOUBLE) / 100 AS revenue,
       |       ${Det.rSql(s"CAST(num AS DOUBLE) / $EwmaDen / 100", 4)} AS ewma,
       |       CASE WHEN c * $EwmaDen > 2 * num THEN 'spike'
       |            ELSE 'dip' END AS direction,
       |       CASE WHEN num > 0
       |            THEN CAST(floor(CAST(c AS DOUBLE) * $EwmaDen * 1e6 / num
       |                            + 0.5) AS BIGINT) END AS ratio_ppm
       |FROM j
       |WHERE c * $EwmaDen > 2 * num OR 2 * c * $EwmaDen < num
       |ORDER BY day""".stripMargin

  /** KAPLAN–MEIER SURVIVAL of order time-to-completion — the censoring-
    * aware "how long until an order ships fully" curve (naive averages
    * over completed orders only are biased optimistic; KM is the
    * standard fix). Events: status-'F' orders at t = days from order to
    * their last lineitem shipment. Censored: every other order, still
    * at risk through the observation end (max shipdate seen, falling
    * back to max orderdate). Per distinct t: d_t events, c_t censored,
    * n_t at-risk = N − Σ_{s<t}(d_s+c_s); the survival curve is carried
    * as ln S(t) = Σ_{s≤t} ln((n_s−d_s)/n_s) in EXACT micro-integer
    * units — each per-time ln is one libm call on one exact-rounded
    * double division, micro-rounded (the dsir/nb/bigram discipline;
    * PropertiesSpec's BigDecimal-ln case recomputes every term and
    * asserts it sits off the rounding boundary, so a libm ulp bump
    * fails THERE, not in a CORRECTNESS hash). When d_t = n_t the curve
    * hits exactly zero and ln is undefined — ln_surv_micro goes NULL
    * from that t onward (both engines propagate the flag explicitly;
    * a window SUM would silently skip the NULL term).
    *
    * Scale shape: one lineitem agg + one orders scan, both shuffling
    * on their natural keys, reduce to a |distinct t| ≤ calendar-span
    * frame — bounded model state, collected through [[Hist.bounded]]
    * and folded on the driver (the revenue_cusum discipline). At
    * 100 TB nothing after the first agg grows with rows. */
  def kmShipSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lastShip = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("last_ship"))
    val ords = Tables.orders(spark, sfDir)
    // observation end as an epoch DAY (collecting a timestamp yields
    // LocalDateTime under NTZ encodings — the CLAUDE.md fixture trap;
    // an int day sidesteps the type entirely): 2 ints of model state
    val epoch = lit("1970-01-01").cast("date")
    val obsRow = Tables.lineitem(spark, sfDir)
      .agg(max(datediff(col("l_shipdate").cast("date"), epoch))).head()
    val obsEnd: Option[Int] =
      if (!obsRow.isNullAt(0)) Some(obsRow.getInt(0))
      else {
        val o = ords.agg(max(datediff(col("o_orderdate").cast("date"),
          epoch))).head()
        if (o.isNullAt(0)) None else Some(o.getInt(0))
      }
    val events = ords.filter(col("o_orderstatus") === "F")
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .select(datediff(col("last_ship").cast("date"),
        col("o_orderdate").cast("date")).as("t_days"), lit(1L).as("ev"))
    val censored = obsEnd match {
      case Some(oe) => ords.filter(col("o_orderstatus") =!= "F")
        .select((lit(oe) - datediff(col("o_orderdate").cast("date"), epoch))
          .as("t_days"), lit(0L).as("ev"))
      case None => events.limit(0)
    }
    val agg = events.union(censored).filter(col("t_days") >= 0)
      .groupBy("t_days")
      .agg(sum("ev").as("d"), sum(lit(1L) - col("ev")).as("c"))
    // |distinct t| ≤ calendar span — bounded model state
    val km = Hist.bounded(agg, "km_ship_survival")
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    if (km.isEmpty)
      return Seq.empty[(Int, Long, Long, Long, java.lang.Long)]
        .toDF("t_days", "n_risk", "n_event", "n_censored", "ln_surv_micro")
    val n = km.map(t => t._2 + t._3).sum
    var atRisk = n
    var lnSum = 0L
    var zeroHit = false
    val rows = km.map { case (t, d, c) =>
      if (d > 0 && d < atRisk)
        lnSum += math.floor(
          math.log((atRisk - d).toDouble / atRisk) * 1e6 + 0.5).toLong
      if (d > 0 && d >= atRisk) zeroHit = true
      val out = (t, atRisk, d, c,
        if (zeroHit) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(lnSum))
      atRisk -= d + c
      out
    }
    rows.toSeq
      .toDF("t_days", "n_risk", "n_event", "n_censored", "ln_surv_micro")
      .orderBy("t_days")
  }

  val kmShipSurvivalSql: String =
    s"""WITH ls AS (SELECT l_orderkey, max(l_shipdate) AS last_ship
       |            FROM lineitem GROUP BY 1),
       |ob AS (SELECT coalesce((SELECT max(l_shipdate) FROM lineitem),
       |                       (SELECT max(o_orderdate) FROM orders))
       |         AS obs_end),
       |base AS (
       |  SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
       |                   CAST(ls.last_ship AS DATE)) AS t_days, 1 AS ev
       |  FROM orders o JOIN ls ON o.o_orderkey = ls.l_orderkey
       |  WHERE o.o_orderstatus = 'F'
       |  UNION ALL
       |  SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
       |                   CAST(ob.obs_end AS DATE)) AS t_days, 0 AS ev
       |  FROM orders o, ob WHERE o.o_orderstatus <> 'F'),
       |agg AS (SELECT CAST(t_days AS INTEGER) AS t_days,
       |               CAST(sum(ev) AS BIGINT) AS d,
       |               CAST(sum(1 - ev) AS BIGINT) AS c
       |        FROM base WHERE t_days >= 0 GROUP BY 1),
       |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM agg),
       |km AS (SELECT t_days, d, c,
       |              tot.n - coalesce(sum(d + c) OVER (ORDER BY t_days
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |                0) AS n_risk
       |       FROM agg, tot),
       |terms AS (SELECT t_days, d, c, n_risk,
       |            CASE WHEN d = 0 THEN 0
       |                 WHEN d < n_risk
       |                 THEN CAST(floor(ln(CAST(n_risk - d AS DOUBLE)
       |                                    / n_risk) * 1e6 + 0.5) AS BIGINT)
       |            END AS term,
       |            CASE WHEN d > 0 AND d >= n_risk THEN 1 ELSE 0 END AS zf
       |          FROM km),
       |run AS (SELECT t_days, n_risk, d AS n_event, c AS n_censored,
       |               sum(term) OVER (ORDER BY t_days
       |                 ROWS UNBOUNDED PRECEDING) AS lnsum,
       |               max(zf) OVER (ORDER BY t_days
       |                 ROWS UNBOUNDED PRECEDING) AS zhit
       |        FROM terms)
       |SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk, n_event, n_censored,
       |       CASE WHEN zhit = 1 THEN NULL
       |            ELSE CAST(lnsum AS BIGINT) END AS ln_surv_micro
       |FROM run ORDER BY t_days""".stripMargin

  /** ABC INVENTORY CLASSIFICATION — the warehouse's 80/15/5 rule: rank
    * parts by revenue, class A = parts whose inclusive cumulative share
    * stays within 80 % of total revenue, B to 95 %, C the tail; report
    * the class-level rollup (how many SKUs carry how much revenue).
    * Class boundaries are EXACT integer comparisons (5·cum ≤ 4·tot,
    * 20·cum ≤ 19·tot on cents) — no float share at the decision point.
    *
    * The cumulative sum runs over a CORPUS-SIZED total order (|parts|),
    * so it does NOT use a global window: [[Hist.prefixScan]] over parts
    * binned by revenue span, descending — ties in revenue land in the
    * same bin, ordered (r DESC, partkey), and the within-bin cumsum is
    * inclusive. Final shape: 3 rows. */
  def partsAbcClass(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pr = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("r"))
    val span = Hist.span(pr, "r")
    if (span.isEmpty)
      return Seq.empty[(String, Long, Double, Long)]
        .toDF("abc_class", "n_parts", "revenue", "share_ppm")
    val (cum, tot) = Hist.prefixScan(pr.withColumn("bin", span.get.desc("r")),
        sum("r").as("s"), "parts_abc_class",
        Seq(col("r").desc, col("l_partkey")), "cum") { w =>
      sum("r").over(w.rowsBetween(Window.unboundedPreceding, 0))
    }
    cum
      .withColumn("abc_class",
        when(col("cum") * 5 <= lit(tot) * 4, "A")
          .when(col("cum") * 20 <= lit(tot) * 19, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        (sum("r").cast("double") / 100).as("revenue"),
        floor(sum("r").cast("double") * 1e6 / lit(tot).cast("double") + 0.5)
          .cast("long").as("share_ppm"))
      .orderBy("abc_class")
  }

  val partsAbcClassSql: String =
    s"""WITH pr AS (SELECT l_partkey,
       |                   CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT))
       |                        AS BIGINT) AS r
       |            FROM lineitem GROUP BY 1),
       |t AS (SELECT CAST(sum(r) AS BIGINT) AS tot FROM pr),
       |c AS (SELECT l_partkey, r,
       |             CAST(sum(r) OVER (ORDER BY r DESC, l_partkey
       |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |      FROM pr),
       |cls AS (SELECT r,
       |               CASE WHEN cum * 5 <= tot * 4 THEN 'A'
       |                    WHEN cum * 20 <= tot * 19 THEN 'B'
       |                    ELSE 'C' END AS abc_class
       |        FROM c, t WHERE tot > 0)
       |SELECT abc_class, count(*) AS n_parts,
       |       CAST(sum(r) AS DOUBLE) / 100 AS revenue,
       |       CAST(floor(CAST(sum(r) AS DOUBLE) * 1e6
       |                  / (SELECT CAST(tot AS DOUBLE) FROM t) + 0.5)
       |            AS BIGINT) AS share_ppm
       |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin

  /** GINI COEFFICIENT of customer spend — the inequality scalar
    * completing the concentration family ([[revenueParetoShare]]'s
    * top-share, [[supplierHhi]]'s Σshare²): G = (2·Σᵢ i·xᵢ − (n+1)·Σx)
    * / (n·Σx) over spend sorted ascending (ties broken on custkey).
    * Zero-order customers count with x = 0 — excluding them understates
    * inequality. The global rank i runs over a CORPUS-SIZED order, so
    * it is assigned WITHOUT a global window: a [[Hist.prefixScan]] of
    * per-bin counts over customers binned by spend span, with a
    * within-bin row_number (ties in x share a bin). Σ i·xᵢ accumulates
    * in DECIMAL(38,0) (i·x alone can pass 2⁶³); the final G is one
    * double division on exact integers, micro-rounded. Output: one
    * row. */
  def ordersGini(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val spend = Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(coalesce(sum(cents(col("o_totalprice"))), lit(0L)).as("x"))
    val span = Hist.span(spend, "x")
    if (span.isEmpty)
      return Seq.empty[(Long, Double, java.lang.Double)]
        .toDF("n_customers", "total_spend", "gini")
    val (ranked, n) = Hist.prefixScan(spend.withColumn("bin", span.get.asc("x")),
        count(lit(1)).as("m"), "orders_gini", Seq(col("x"), col("c_custkey")),
        "i")(w => row_number().over(w))
    val sums = ranked
      .agg(sum(col("i").cast("decimal(38,0)") * col("x")).as("six"),
        sum("x").as("sx"))
    val num = (lit(2).cast("decimal(38,0)") * col("six") -
      lit(n + 1).cast("decimal(38,0)") * col("sx")).cast("double")
    val den = (lit(n).cast("decimal(38,0)") * col("sx")).cast("double")
    sums.select(lit(n).as("n_customers"),
      (col("sx").cast("double") / 100).as("total_spend"),
      when(col("sx") > 0, Det.r(num / den, 6)).as("gini"))
  }

  val ordersGiniSql: String =
    s"""WITH spend AS (
       |  SELECT c.c_custkey,
       |         CAST(coalesce(sum(CAST(round(o.o_totalprice*100) AS BIGINT)),
       |                       0) AS BIGINT) AS x
       |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
       |  GROUP BY 1),
       |rk AS (SELECT x, row_number() OVER (ORDER BY x, c_custkey) AS i
       |       FROM spend),
       |s AS (SELECT count(*) AS n,
       |             sum(CAST(i AS DECIMAL(38,0)) * x) AS six,
       |             CAST(sum(x) AS BIGINT) AS sx
       |      FROM rk)
       |SELECT n AS n_customers,
       |       CAST(sx AS DOUBLE) / 100 AS total_spend,
       |       CASE WHEN sx > 0 THEN ${Det.rSql(
        "CAST(2 * six - (n + 1) * CAST(sx AS DECIMAL(38,0)) AS DOUBLE) " +
          "/ CAST(n * CAST(sx AS DECIMAL(38,0)) AS DOUBLE)", 6)}
       |       END AS gini
       |FROM s WHERE n > 0""".stripMargin

  // --------------------------------------------------------------------
  // TPC-H classics pack (Q8/Q17/Q18/Q19/Q22 shapes on the reduced schema)
  // --------------------------------------------------------------------

  private val ShareRegion = "AMERICA"
  private val ShareNation = "NATION_5"
  private val SharePartType = "PROMO"

  /** TPC-H Q8-shaped national market share: for [[SharePartType]] parts
    * sold to customers in [[ShareRegion]], the per-order-year share of
    * revenue supplied from [[ShareNation]]. The canonical "two
    * conditional sums, one ratio" plan: lineitem⋈orders is the only
    * fact-fact shuffle (orderkey); part (type-filtered BEFORE the join,
    * so the broadcast is the selective slice) and the bounded dims
    * (nation, region) carry hints; the customer slice and supplier frame
    * GROW with SF, so AQE picks their join strategy (broadcast while
    * small, shuffle at warehouse scale). Revenue accumulates in
    * exact cents·pct units (decimal(38,0) sums — int128-safe at 100 TB);
    * the share is ONE double division of two exact integers, rounded via
    * [[Det.r]]. At 1000 executors this is a scan-heavy plan with a single
    * shuffle — the dims never move the fact table. */
  def marketShare(spark: SparkSession, sfDir: String,
                  nation: String = ShareNation,
                  region: String = ShareRegion,
                  ptype: String = SharePartType): DataFrame = {
    Args.lit("nation", nation); Args.lit("region", region)
    Args.lit("ptype", ptype)
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        netRevE4.as("rev_e4"))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    val pt = Tables.part(spark, sfDir)
      .filter(col("p_type") === ptype).select("p_partkey")
    val nat = Tables.nation(spark, sfDir)
    val cust = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)
          .filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val supp = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nat.select(col("n_nationkey"), col("n_name").as("s_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_nation")
    // cust (a region slice of customer) and supp GROW with scale factor —
    // no forced broadcast hint (invariant #4): AQE broadcasts them while
    // their runtime size is under the threshold and falls back to a
    // shuffle join at warehouse scale instead of OOMing the driver. The
    // bounded dims (nation, region) and the type-pruned part slice keep
    // their hints.
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_year")
      .agg(
        sum(col("rev_e4").cast("decimal(38,0)")).as("tot"),
        sum(when(col("s_nation") === nation, col("rev_e4"))
          .otherwise(lit(0L)).cast("decimal(38,0)")).as("nat"),
        count(lit(1)).as("n_items"))
      .select(col("o_year"),
        (col("tot").cast("double") / 10000).as("total_revenue"),
        (col("nat").cast("double") / 10000).as("nation_revenue"),
        Det.r(col("nat").cast("double") / col("tot").cast("double"), 6)
          .as("mkt_share"),
        col("n_items"))
      .orderBy("o_year")
  }

  def marketShareSqlFor(nation: String, region: String,
                        ptype: String): String = {
    Args.lit("nation", nation); Args.lit("region", region)
    Args.lit("ptype", ptype)
    s"""SELECT o_year,
       |       CAST(tot AS DOUBLE) / 10000 AS total_revenue,
       |       CAST(nat AS DOUBLE) / 10000 AS nation_revenue,
       |       ${Det.rSql("CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE)", 6)} AS mkt_share,
       |       n_items
       |FROM (
       |  SELECT year(o_orderdate) AS o_year,
       |         sum(CAST(round(l_extendedprice*100) AS BIGINT)
       |             * (100 - CAST(round(l_discount*100) AS BIGINT))) AS tot,
       |         sum(CASE WHEN n2.n_name = '$nation'
       |                  THEN CAST(round(l_extendedprice*100) AS BIGINT)
       |                       * (100 - CAST(round(l_discount*100) AS BIGINT))
       |                  ELSE 0 END) AS nat,
       |         count(*) AS n_items
       |  FROM lineitem
       |  JOIN part     ON l_partkey = p_partkey AND p_type = '$ptype'
       |  JOIN orders   ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |  JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = '$region'
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |  GROUP BY 1)
       |ORDER BY o_year""".stripMargin
  }

  private val SmallQtyBrand = "Brand#4"

  /** TPC-H Q17-shaped small-quantity revenue: total + per-year-average
    * revenue of [[SmallQtyBrand]] lineitems whose quantity is under 20%
    * of that part's average order quantity. The threshold compare is
    * EXACT INTEGER cross-multiplication (qty < 0.2·(Σq/n) ⇔ 5·qty·n < Σq
    * — quantities are integral), so no float average ever enters the
    * predicate on either engine.
    *
    * Scale: the brand's part keys broadcast FIRST, so only the brand
    * slice of the fact table (≈1/|brands|) ever shuffles; the per-part
    * (n, Σq) stats aggregate that same slice (map-side partial) and join
    * back on partkey — both sides of that self-join are the pruned
    * slice, never the corpus. One row out. */
  def smallQtyRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val bparts = Tables.part(spark, sfDir)
      .filter(col("p_brand") === SmallQtyBrand).select("p_partkey")
    val li = Tables.lineitem(spark, sfDir)
      .join(broadcast(bparts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey").as("pk"),
        col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice")).as("price_c"))
    val stats = li.groupBy("pk")
      .agg(count(lit(1)).as("n"), sum("qty").as("sq"))
    li.join(stats, "pk")
      .filter(lit(5) * col("qty") * col("n") < col("sq"))
      .agg(count(lit(1)).as("n_items"), sum("price_c").as("sp"))
      .filter(col("n_items") > 0)
      .select(col("n_items"),
        (col("sp").cast("double") / 100).as("total_revenue"),
        (col("sp").cast("double") / 700).as("avg_yearly"))
  }

  val smallQtyRevenueSql: String =
    s"""WITH li AS (
       |  SELECT l_partkey AS pk, CAST(l_quantity AS BIGINT) AS qty,
       |         CAST(round(l_extendedprice*100) AS BIGINT) AS price_c
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_brand = '$SmallQtyBrand'),
       |st AS (SELECT pk, count(*) AS n, sum(qty) AS sq FROM li GROUP BY pk)
       |SELECT count(*) AS n_items,
       |       CAST(sum(price_c) AS DOUBLE) / 100 AS total_revenue,
       |       CAST(sum(price_c) AS DOUBLE) / 700 AS avg_yearly
       |FROM li JOIN st USING (pk)
       |WHERE 5 * qty * n < sq
       |HAVING count(*) > 0""".stripMargin

  private val LargeQtyThreshold = 250L
  private val LargeVolTopN = 100

  /** TPC-H Q18-shaped large-volume customers: orders whose total line
    * quantity exceeds [[LargeQtyThreshold]], with their customers. The
    * HAVING-pushdown plan: lineitem aggregates per order FIRST (map-side
    * partial sums — the shuffle carries one row per order, not per
    * line), the > threshold filter prunes before any join, and only the
    * surviving ~top-percentile orders join orders (shuffle on orderkey)
    * and customer (AQE-chosen strategy — customer grows with SF, so no
    * forced broadcast). Top-N via TakeOrderedAndProject; ties break
    * on orderkey. Quantities are integral → exact long sums. */
  def largeVolumeCustomers(spark: SparkSession, sfDir: String,
                           minQty: Long = LargeQtyThreshold,
                           topN: Int = LargeVolTopN): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    val heavy = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
      .groupBy("l_orderkey").agg(sum("qty").as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    // customer grows with scale factor — no forced broadcast (invariant
    // #4): AQE broadcasts it while small and shuffle-joins at warehouse
    // scale; the surviving heavy-order side is already pruned to the
    // top percentile, so the shuffle fallback is cheap either way.
    heavy
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(topN)
  }

  def largeVolumeCustomersSqlFor(minQty: Long, topN: Int): String =
    s"""WITH heavy AS (
       |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING sum(CAST(l_quantity AS BIGINT)) > $minQty)
       |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
       |FROM heavy
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY o_totalprice DESC, o_orderkey
       |LIMIT $topN""".stripMargin

  /** TPC-H Q19-shaped disjunctive-predicate revenue: three
    * (brand, size-range, quantity-range) branches OR-ed together. The
    * pushdown shape this query exists to exercise: the brand IN (...)
    * prefilter prunes the part dim BEFORE broadcast (the disjunction's
    * common factor — Catalyst does not hoist it out of the OR on its
    * own), the residual branch predicate evaluates post-join inside
    * whole-stage codegen, and revenue accumulates in exact cents·pct
    * decimals. One row out, gated on n_items > 0 so an empty corpus
    * emits no phantom zero row. */
  def discRevenueBrands(spark: SparkSession, sfDir: String): DataFrame = {
    val pt = Tables.part(spark, sfDir)
      .filter(col("p_brand").isin("Brand#4", "Brand#16", "Brand#19"))
      .select("p_partkey", "p_brand", "p_size")
    val branch =
      (col("p_brand") === "Brand#4" &&
        col("p_size").between(1, 15) && col("qty").between(1, 11)) ||
      (col("p_brand") === "Brand#16" &&
        col("p_size").between(10, 25) && col("qty").between(10, 20)) ||
      (col("p_brand") === "Brand#19" &&
        col("p_size").between(20, 35) && col("qty").between(20, 30))
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        netRevE4.as("rev_e4"))
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .agg(count(lit(1)).as("n_items"),
        sum(col("rev_e4").cast("decimal(38,0)")).as("rev"))
      .filter(col("n_items") > 0)
      .select(col("n_items"), (col("rev").cast("double") / 10000).as("revenue"))
  }

  val discRevenueBrandsSql: String =
    """SELECT count(*) AS n_items,
      |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)
      |         / 10000 AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#4'  AND p_size BETWEEN 1  AND 15
      |       AND CAST(l_quantity AS BIGINT) BETWEEN 1  AND 11)
      |   OR (p_brand = 'Brand#16' AND p_size BETWEEN 10 AND 25
      |       AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 20 AND 35
      |       AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30)
      |HAVING count(*) > 0""".stripMargin

  private val DormantCutoff = "1999-08-01"

  /** TPC-H Q22-shaped dormant high-balance customers: per nation, the
    * customers holding above-average positive account balances who have
    * placed NO order since [[DormantCutoff]] — the "lost wealthy
    * customers" readout. The above-average test is an exact-integer
    * cross-multiply (bal·n_pos > Σ_pos in cents; the product widens to
    * decimal/HUGEINT so a 100 TB n_pos cannot wrap), against a one-row
    * global aggregate broadcast-crossed onto the customer dim (the
    * sanctioned scalar funnel). Dormancy is a left-anti join against
    * the date-pruned recent-orders key set — the anti side is pruned by
    * the pushable date filter before it shuffles. */
  def dormantHighBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).as("bal_c"))
    val avgPos = cust.filter(col("bal_c") > 0)
      .agg(count(lit(1)).as("n_pos"), sum("bal_c").as("sum_pos"))
    val recent = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(DormantCutoff).cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(avgPos))
      .filter(col("bal_c").cast("decimal(38,0)") * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_custs"),
        (sum("bal_c").cast("double") / 100).as("total_bal"))
      .orderBy("nation")
  }

  val dormantHighBalanceSql: String =
    s"""WITH c AS (SELECT c_custkey, c_nationkey,
       |                  CAST(round(c_acctbal*100) AS BIGINT) AS bal_c
       |           FROM customer),
       |ap AS (SELECT count(*) AS n_pos, sum(bal_c) AS sum_pos
       |       FROM c WHERE bal_c > 0)
       |SELECT n_name AS nation, count(*) AS n_custs,
       |       CAST(sum(bal_c) AS DOUBLE) / 100 AS total_bal
       |FROM c CROSS JOIN ap
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE CAST(bal_c AS HUGEINT) * n_pos > sum_pos
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey
       |                    AND o_orderdate >= TIMESTAMP '$DormantCutoff')
       |GROUP BY n_name
       |ORDER BY nation""".stripMargin

  private val ProfitNamePattern = "bolt"

  /** TPC-H Q9-shaped product-line revenue by producing nation and year
    * (the reduced schema has no partsupp/supplycost, so the measure is
    * discounted revenue rather than revenue − cost — same plan shape):
    * lineitems of parts whose NAME contains a pattern, rolled up by the
    * SUPPLIER's nation per order year. The name filter prunes the part
    * dim BEFORE broadcast (contains() cannot push to parquet as a range
    * but the dim-side scan is catalog-sized); supplier and nation
    * broadcast; the only fact-fact shuffle is lineitem⋈orders on
    * orderkey. Exact cents·pct decimal sums; Q9's classic ordering
    * (nation asc, year desc). */
  def partNameProfit(spark: SparkSession, sfDir: String,
                     pattern: String = ProfitNamePattern): DataFrame = {
    Args.likeLit("pattern", pattern)
    val pt = Tables.part(spark, sfDir)
      .filter(col("p_name").contains(pattern)).select("p_partkey")
    val supp = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(spark, sfDir)
          .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "nation")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        netRevE4.as("rev_e4"))
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("nation", "o_year")
      .agg((sum(col("rev_e4").cast("decimal(38,0)")).cast("double") / 10000)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("nation").asc, col("o_year").desc)
  }

  def partNameProfitSqlFor(pattern: String): String = {
    Args.likeLit("pattern", pattern)
    s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
       |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
       |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)
       |         / 10000 AS revenue,
       |       count(*) AS n_items
       |FROM lineitem
       |JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%$pattern%'
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |JOIN orders   ON l_orderkey = o_orderkey
       |GROUP BY 1, 2
       |ORDER BY nation, o_year DESC""".stripMargin
  }

  private val OrderDistPriority = "1-URGENT"

  /** TPC-H Q13-shaped customer order-count distribution — the one
    * outer-join aggregate classic: how many customers placed exactly k
    * qualifying ([[OrderDistPriority]]) orders, INCLUDING the zero
    * bucket (customers with no qualifying order at all — the rows an
    * inner join silently deletes; the reduced schema has no o_comment,
    * so the qualifying filter is the priority class).
    *
    * Plan: orders pre-aggregates per custkey FIRST (map-side partial
    * count; the shuffle carries one row per customer that ordered, not
    * one per order), customer LEFT-joins that count frame on custkey
    * (AQE picks the strategy — both sides grow with SF, so no forced
    * broadcast), the zero bucket materializes via coalesce(n, 0), and
    * the final distribution agg groups ≤ max-order-count rows. Orders
    * by (custdist, c_count) desc — a total order, c_count is unique. */
  def customerOrderDist(spark: SparkSession, sfDir: String): DataFrame = {
    val oc = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === OrderDistPriority)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    Tables.customer(spark, sfDir).select("c_custkey")
      .join(oc, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val customerOrderDistSql: String =
    s"""WITH oc AS (
       |  SELECT o_custkey, count(*) AS n FROM orders
       |  WHERE o_orderpriority = '$OrderDistPriority' GROUP BY o_custkey)
       |SELECT c_count, count(*) AS custdist
       |FROM (SELECT coalesce(n, 0) AS c_count
       |      FROM customer LEFT JOIN oc ON c_custkey = o_custkey)
       |GROUP BY c_count
       |ORDER BY custdist DESC, c_count DESC""".stripMargin

  private val StockRegion = "ASIA"

  /** TPC-H Q11-shaped important stock: per part supplied by
    * [[StockRegion]]'s suppliers, total discounted revenue — kept only
    * where the part's value exceeds 1/1000 of the regional slice total
    * (the group-HAVING-vs-global-scalar classic; the reduced schema has
    * no partsupp, so value = lineitem revenue rather than availqty ×
    * supplycost — same plan shape).
    *
    * Plan: region suppliers resolve through broadcast nation/region
    * dims (the supplier frame itself grows with SF → AQE picks its join
    * strategy); the fact shuffles ONCE on partkey for the per-part agg;
    * the global total re-aggregates THAT frame (per-part rows, not the
    * fact) into a 1-row broadcast. The threshold compare is exact
    * integer cross-multiplication — value_e4 · 1000 > total_e4 in
    * decimal(38,0)/HUGEINT (no float fraction at any scale; 10²⁴ head
    * room at 100 TB). */
  def regionPartValue(spark: SparkSession, sfDir: String): DataFrame = {
    val rsupp = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)
          .filter(col("r_name") === StockRegion)),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey")
    val pv = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"),
        netRevE4.as("rev_e4"))
      .join(rsupp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(col("rev_e4").cast("decimal(38,0)")).as("value_e4"))
    val tot = pv.agg(sum("value_e4").as("t"))
    pv.crossJoin(broadcast(tot))
      .filter(col("value_e4") * 1000 > col("t"))
      .select(col("p_partkey"),
        (col("value_e4").cast("double") / 10000).as("value"))
      .orderBy(col("value").desc, col("p_partkey").asc)
  }

  val regionPartValueSql: String =
    s"""WITH rs AS (
       |  SELECT s_suppkey FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey AND r_name = '$StockRegion'),
       |pv AS (
       |  SELECT l_partkey AS p_partkey,
       |         sum(CAST(round(l_extendedprice*100) AS BIGINT)
       |             * (100 - CAST(round(l_discount*100) AS BIGINT))) AS value_e4
       |  FROM lineitem JOIN rs ON l_suppkey = s_suppkey
       |  GROUP BY 1),
       |tot AS (SELECT sum(value_e4) AS t FROM pv)
       |SELECT p_partkey, CAST(value_e4 AS DOUBLE) / 10000 AS value
       |FROM pv CROSS JOIN tot
       |WHERE value_e4 * 1000 > t
       |ORDER BY value DESC, p_partkey""".stripMargin

  private val MinCostPartType = "LARGE"
  private val MinCostRegion = "AMERICA"
  private val MinCostTopN = 100

  /** TPC-H Q2-shaped min-cost supplier: for each [[MinCostPartType]]
    * part, the cheapest [[MinCostRegion]] supplier that has actually
    * shipped it (the correlated-min classic; the reduced schema has no
    * partsupp/supplycost, so the supply relation is the distinct
    * (partkey, suppkey) shipment pairs and the cost proxy is the
    * supplier's account balance in exact cents).
    *
    * Plan: the shipment-pair frame aggregates the fact ONCE on
    * (partkey, suppkey) — carrying two keys, never price columns; the
    * part slice broadcasts (catalog-sized, type-pruned before the
    * hint); region suppliers resolve through broadcast nation/region
    * and join WITHOUT a hint (supplier grows with SF → AQE). The
    * correlated min is a row_number window partitioned per part
    * (ordered bal_c, then s_suppkey — an explicit total order, so ties
    * are deterministic), never a self-join back onto the fact. Top-N
    * via TakeOrderedAndProject. */
  def minCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val pt = Tables.part(spark, sfDir)
      .filter(col("p_type") === MinCostPartType).select("p_partkey", "p_name")
    // semi-prune the fact against the type slice BEFORE the pair
    // distinct, so the distinct exchange is slice-sized, not corpus-sized
    val pairs = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(pt.select("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .distinct()
    val rsupp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"),
        cents(col("s_acctbal")).as("bal_c"), col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
          .select(col("n_nationkey"), col("n_regionkey"),
            col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)
          .filter(col("r_name") === MinCostRegion)),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "nation", "bal_c")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_partkey"))
      .orderBy(col("bal_c").asc, col("s_suppkey").asc)
    pairs.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(rsupp, col("l_suppkey") === col("s_suppkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("nation"),
        (col("bal_c").cast("double") / 100).as("s_acctbal"))
      .orderBy(col("s_acctbal").asc, col("p_partkey").asc)
      .limit(MinCostTopN)
  }

  val minCostSupplierSql: String =
    s"""WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
       |rs AS (
       |  SELECT s_suppkey, s_name, n_name AS nation,
       |         CAST(round(s_acctbal*100) AS BIGINT) AS bal_c
       |  FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey AND r_name = '$MinCostRegion')
       |SELECT p_partkey, p_name, s_suppkey, s_name, nation,
       |       CAST(bal_c AS DOUBLE) / 100 AS s_acctbal
       |FROM pairs
       |JOIN part ON l_partkey = p_partkey AND p_type = '$MinCostPartType'
       |JOIN rs ON l_suppkey = s_suppkey
       |QUALIFY row_number() OVER (PARTITION BY p_partkey
       |                           ORDER BY bal_c, s_suppkey) = 1
       |ORDER BY s_acctbal, p_partkey
       |LIMIT $MinCostTopN""".stripMargin

  /** TPC-H Q16-shaped supplier diversity: distinct supplier count per
    * (brand, type, size) for the catalog slice OUTSIDE one brand/type,
    * excluding "complaint" suppliers (the NOT-IN classic; the reduced
    * schema has no s_comment, so the exclusion list is the
    * negative-balance suppliers).
    *
    * Plan: the brand/type/size slice prunes the part dim BEFORE its
    * broadcast; the exclusion list is a left-anti join (supplier grows
    * with SF → no forced hint, AQE broadcasts the filtered sliver while
    * small); count(DISTINCT suppkey) partial-deduplicates map-side —
    * the shuffle carries (group, suppkey) pairs, never raw lineitems.
    * No pairs.distinct() pre-pass: the distinct aggregate subsumes it,
    * saving a full extra exchange. */
  def supplierPartCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val pt = Tables.part(spark, sfDir)
      .filter(col("p_brand") =!= "Brand#4" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 15, 25, 35, 45))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val bad = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    Tables.lineitem(spark, sfDir).select("l_partkey", "l_suppkey")
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
        col("p_type").asc, col("p_size").asc)
  }

  val supplierPartCountsSql: String =
    """SELECT p_brand, p_type, p_size,
      |       count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#4' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 5, 15, 25, 35, 45)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  private val DominantNamePrefix = "blue"
  private val DominantShipYear = 1997

  /** TPC-H Q20-shaped dominant shippers: suppliers that shipped MORE
    * THAN 30% of a part's total [[DominantShipYear]] volume, for parts
    * named `[[DominantNamePrefix]]…` — the semi-join-chain classic (the
    * reduced schema has no partsupp availqty, so the "excess share"
    * predicate is the supplier's share of the part's shipped quantity).
    *
    * Plan: the name-pruned part slice broadcasts into the
    * year-range-pruned fact scan (both filters pushed); per-(part,
    * supplier) quantities aggregate map-side; the per-part total
    * re-aggregates THAT frame (pair rows, not the fact) and joins back
    * on partkey — pair-frame-sized on both sides. The share test is
    * exact integer cross-multiplication (qty·10 > total·3, quantities
    * integral). The qualifying suppkey set semi-joins supplier (no
    * hint — supplier grows with SF, the qualifying set is bounded by
    * it). */
  def dominantShipSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val pt = Tables.part(spark, sfDir)
      .filter(col("p_name").startsWith(DominantNamePrefix)).select("p_partkey")
    val lo = lit(s"$DominantShipYear-01-01").cast("timestamp")
    val hi = lit(s"${DominantShipYear + 1}-01-01").cast("timestamp")
    val pa = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"))
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey").agg(sum("qty").as("pair_qty"))
    val tot = pa.groupBy("l_partkey").agg(sum("pair_qty").as("part_qty"))
    val dom = pa.join(tot, "l_partkey")
      .filter(col("pair_qty") * 10 > col("part_qty") * 3)
      .select("l_suppkey").distinct()
    Tables.supplier(spark, sfDir)
      .join(dom, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, sfDir)
          .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "nation")
      .orderBy("s_suppkey")
  }

  val dominantShipSuppliersSql: String =
    s"""WITH li AS (
       |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS qty
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_name LIKE '$DominantNamePrefix%'
       |    AND l_shipdate >= TIMESTAMP '$DominantShipYear-01-01'
       |    AND l_shipdate <  TIMESTAMP '${DominantShipYear + 1}-01-01'),
       |pa AS (SELECT l_partkey, l_suppkey, sum(qty) AS pair_qty
       |       FROM li GROUP BY 1, 2),
       |pt AS (SELECT l_partkey, sum(pair_qty) AS part_qty
       |       FROM pa GROUP BY 1),
       |dom AS (SELECT DISTINCT l_suppkey
       |        FROM pa JOIN pt USING (l_partkey)
       |        WHERE pair_qty * 10 > part_qty * 3)
       |SELECT s_suppkey, s_name, n_name AS nation
       |FROM supplier
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
       |ORDER BY s_suppkey""".stripMargin

  private val ReturnedQuarterStart = "1998-01-01"
  private val ReturnedQuarterEnd = "1998-04-01"
  private val ReturnedTopN = 20

  /** TPC-H Q10-shaped returned-item losses: the top customers by revenue
    * REFUNDED on returned ('R') items for one order quarter — the
    * "which accounts are hurting" churn readout. Both selective filters
    * push to their scans (order-date range on orders, returnflag on
    * lineitem), the pruned slices meet in the one fact-fact shuffle on
    * orderkey, revenue accumulates per customer in exact cents·pct
    * decimals, and customer/nation attach afterward — to the
    * ≤|customers-with-returns| aggregate, never the fact (customer
    * grows with SF → AQE strategy, nation broadcasts). Top-N via
    * TakeOrderedAndProject, ties on c_custkey. */
  def returnedItemLosses(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(ReturnedQuarterStart).cast("timestamp") &&
        col("o_orderdate") < lit(ReturnedQuarterEnd).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        netRevE4.as("rev_e4"))
    val perCust = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(col("rev_e4").cast("decimal(38,0)")).as("rev"),
        count(lit(1)).as("n_items"))
    perCust
      .join(Tables.customer(spark, sfDir)
          .select("c_custkey", "c_name", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
          .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("nation"),
        (col("rev").cast("double") / 10000).as("revenue"), col("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(ReturnedTopN)
  }

  val returnedItemLossesSql: String =
    s"""SELECT c_custkey, c_name, n_name AS nation,
       |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
       |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)
       |         / 10000 AS revenue,
       |       count(*) AS n_items
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |              AND o_orderdate >= TIMESTAMP '$ReturnedQuarterStart'
       |              AND o_orderdate <  TIMESTAMP '$ReturnedQuarterEnd'
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |GROUP BY 1, 2, 3
       |ORDER BY revenue DESC, c_custkey
       |LIMIT $ReturnedTopN""".stripMargin

  private val LocalVolRegion = "ASIA"
  private val LocalVolYearStart = "1997-01-01"
  private val LocalVolYearEnd = "1998-01-01"

  /** TPC-H Q5-shaped local supplier volume: revenue per nation of one
    * region, for one order year, counting ONLY lineitems where the
    * supplier and the ordering customer share that nation — the
    * "domestic fulfillment" readout. The date range pushes to the orders
    * scan and the region prune cuts customers to ~1/|regions| BEFORE the
    * fact joins; the customer==supplier nation equality is a post-join
    * filter (it relates two different join paths, so it cannot prune a
    * scan on either engine).
    *
    * Scale: lineitem⋈orders is the one fact-fact shuffle (orderkey);
    * the custkey and suppkey joins attach SF-growing dims — no forced
    * broadcast (invariant #4, AQE decides); nation⋈region is a bounded
    * broadcast slice. Output ≤ |nations in region| rows. */
  def localSupplierVolume(spark: SparkSession, sfDir: String,
                          region: String = LocalVolRegion): DataFrame = {
    Args.lit("region", region)
    val natR = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir)
          .filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(LocalVolYearStart).cast("timestamp") &&
        col("o_orderdate") < lit(LocalVolYearEnd).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        netRevE4.as("rev_e4"))
    val cust = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_nationkey")
      .join(broadcast(natR), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey").as("c_nk"),
        col("n_name").as("nation"))
    val supp = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .filter(col("s_nationkey") === col("c_nk"))
      .groupBy("nation")
      .agg(sum(col("rev_e4").cast("decimal(38,0)")).as("rev"),
        count(lit(1)).as("n_items"))
      .select(col("nation"),
        (col("rev").cast("double") / 10000).as("revenue"), col("n_items"))
      .orderBy(col("revenue").desc, col("nation").asc)
  }

  def localSupplierVolumeSqlFor(region: String): String = {
    Args.lit("region", region)
    s"""SELECT n_name AS nation,
       |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
       |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)
       |         / 10000 AS revenue,
       |       count(*) AS n_items
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |              AND o_orderdate >= TIMESTAMP '$LocalVolYearStart'
       |              AND o_orderdate <  TIMESTAMP '$LocalVolYearEnd'
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |              AND s_nationkey = c_nationkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey AND r_name = '$region'
       |GROUP BY 1
       |ORDER BY revenue DESC, nation""".stripMargin
  }

  /** TPC-H Q6-shaped revenue-uplift forecast: the revenue that would be
    * RECLAIMED by eliminating small discounts on small-quantity orders —
    * Σ price·discount over the 5–7% discount band at quantity < 24,
    * per ship year. Zero joins: both band predicates and the projection
    * push to the parquet scan (raw-column compares against literals —
    * identical stored doubles compare identically on both engines; no
    * arithmetic enters the predicate), and the aggregate is map-side
    * partial into ≤|years| groups.
    *
    * Scale: this is the pure scan-throughput query — at 100 TB the cost
    * is the pruned column read (3 doubles + a date), nothing else. */
  def forecastRevenueUplift(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .groupBy(year(col("l_shipdate")).as("ship_year"))
      .agg(sum((cents(col("l_extendedprice")) * cents(col("l_discount")))
          .cast("decimal(38,0)")).as("up"),
        count(lit(1)).as("n_items"))
      .select(col("ship_year"),
        (col("up").cast("double") / 10000).as("uplift_revenue"),
        col("n_items"))
      .orderBy("ship_year")
  }

  val forecastRevenueUpliftSql: String =
    s"""SELECT year(l_shipdate) AS ship_year,
       |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
       |                * CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE)
       |         / 10000 AS uplift_revenue,
       |       count(*) AS n_items
       |FROM lineitem
       |WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
       |GROUP BY 1
       |ORDER BY ship_year""".stripMargin

  private val TradeNation1 = "NATION_3"
  private val TradeNation2 = "NATION_7"
  private val TradeShipStart = "1996-01-01"
  private val TradeShipEnd = "1998-01-01"

  /** TPC-H Q7-shaped bilateral trade volume: shipped revenue between two
    * nations (supplier in one, customer in the other, both directions
    * kept as separate rows) per ship year. The two-nation slice joins
    * onto the fact FIRST — supplier side prunes lineitem to
    * ~2/|nations| before the orderkey shuffle — and the ship-date range
    * pushes to the lineitem scan.
    *
    * Scale: nation is a bounded broadcast; the nation-sliced supplier
    * and customer frames grow with SF → no forced broadcast (invariant
    * #4, AQE decides). One fact-fact shuffle on orderkey over the
    * supplier-pruned slice; ≤ 2·|years| output rows. */
  def nationTradeVolume(spark: SparkSession, sfDir: String,
                        nation1: String = TradeNation1,
                        nation2: String = TradeNation2): DataFrame = {
    Args.lit("nation1", nation1); Args.lit("nation2", nation2)
    require(nation1 != nation2, "nation1 and nation2 must differ")
    val natPair = Tables.nation(spark, sfDir)
      .filter(col("n_name").isin(nation1, nation2))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(natPair), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
      .join(broadcast(natPair), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(TradeShipStart).cast("timestamp") &&
        col("l_shipdate") < lit(TradeShipEnd).cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("ship_year"),
        netRevE4.as("rev_e4"))
    li.join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "ship_year")
      .agg(sum(col("rev_e4").cast("decimal(38,0)")).as("rev"),
        count(lit(1)).as("n_items"))
      .select(col("supp_nation"), col("cust_nation"), col("ship_year"),
        (col("rev").cast("double") / 10000).as("revenue"), col("n_items"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  def nationTradeVolumeSqlFor(nation1: String, nation2: String): String = {
    Args.lit("nation1", nation1); Args.lit("nation2", nation2)
    // same degenerate-arg rejection as the Spark twin: equal nations must
    // throw on BOTH entry paths, not silently template a vacuously-empty
    // oracle that would "match" a failed Spark run
    require(nation1 != nation2, "nation1 and nation2 must differ")
    s"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       |       year(l_shipdate) AS ship_year,
       |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
       |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)
       |         / 10000 AS revenue,
       |       count(*) AS n_items
       |FROM lineitem
       |JOIN supplier  ON l_suppkey = s_suppkey
       |JOIN nation ns ON s_nationkey = ns.n_nationkey
       |              AND ns.n_name IN ('$nation1', '$nation2')
       |JOIN orders    ON l_orderkey = o_orderkey
       |JOIN customer  ON o_custkey = c_custkey
       |JOIN nation nc ON c_nationkey = nc.n_nationkey
       |              AND nc.n_name IN ('$nation1', '$nation2')
       |WHERE l_shipdate >= TIMESTAMP '$TradeShipStart'
       |  AND l_shipdate <  TIMESTAMP '$TradeShipEnd'
       |  AND ns.n_name <> nc.n_name
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin
  }

  /** RFM SEGMENT ROLLUP — the population-quantile companion of
    * [[rfmSegments]] (which emits the per-customer feature ledger with
    * value-percentile scores where ties SHARE a score): every ordering
    * customer scored into quintiles on Recency (days from last order to
    * the corpus anchor, most recent = 1), Frequency (order count,
    * highest = 1), and Monetary (exact-cents spend, highest = 1), rolled
    * up per (r_q, f_q, m_q) segment (≤125 rows: size, spend, mean
    * recency). Here ties split on custkey so the buckets are equal
    * within 1 — the marketing-readout convention, vs the
    * feature-ledger convention over there. Quintile boundaries are EXACT ntile semantics (first
    * n mod 5 buckets take the extra row) computed from the distributed
    * global rank — the span-bin/carry decomposition
    * ([[partsAbcClass]]/[[ordersGini]] discipline), FUSED across the
    * three axes (r14): one aggregate takes every metric span plus n,
    * one packed-key histogram pass (axis·2^16 + bin) takes all three
    * bin counts, then three broadcast carry joins + within-bin
    * row_number windows assign the ranks — so no axis ever funnels the
    * customer corpus through a SinglePartition ntile window and no
    * axis re-executes another's window chain. The oracle IS DuckDB's
    * native ntile(5) over the same (metric, custkey) total orders —
    * the rank→bucket arithmetic is pinned cross-engine, not assumed.
    *
    * Scale: one shuffle on custkey for the base aggregate; the rank
    * machinery is one bounded-histogram collect (≤3·64k bins) + three
    * within-bin windows; the rollup is a ≤125-group agg. The
    * corpus-sized frame is traversed, never globally sorted. */
  def customerRfm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(cents(col("o_totalprice"))).as("monetary_c"))
    // corpus anchor is model state ([[rfmSegments]]' as-of precedent):
    // collected driver-side, not crossJoined — a broadcast 1-row agg
    // inside a cached frame would embed an AQE ShuffleQueryStage in the
    // plan the funnel sweep can't attribute to its keyless aggregate
    val mxRow = Tables.orders(spark, sfDir)
      .agg(max(col("o_orderdate"))).head()
    if (mxRow.isNullAt(0))
      return Seq.empty[(Long, Long, Long, Long, Double, Double)]
        .toDF("r_q", "f_q", "m_q", "n_customers", "monetary",
          "avg_recency_days")
    // cached with the [[rfmSegments]] justification: one narrow
    // |customers| frame with seven consumers (per-axis span + histogram
    // actions ×3, plus the final ledger) — uncached, each rank pass
    // rescans and re-aggregates orders (min-of-3 A/B at 24M orders in
    // PERF.md r12; SPARK_GRAFT_DISABLE_CACHE=1 prices it)
    val base = TextAnalysis.maybeCache(per
      .withColumn("recency_days",
        datediff(lit(mxRow.get(0)).cast("date"), col("last_order").cast("date"))
          .cast("long"))
      .drop("last_order"))
    // Three ranks, two actions: all three metrics live on `base` BEFORE
    // any ranking, so ONE aggregate takes every span plus n, and ONE
    // packed-key histogram pass (axis·ScanBins + bin; bin < ScanBins by
    // the Span construction) takes all three bin counts. Three chained
    // prefix scans would run each axis's span and histogram actions
    // against the previous axes' join+window — 7 actions with
    // cumulative recomputation.
    val spanRow = base.agg(count(lit(1)),
      min("recency_days"), max("recency_days"),
      min("frequency"), max("frequency"),
      min("monetary_c"), max("monetary_c")).head()
    val n = spanRow.getLong(0)
    // n ≥ 1 here: mxRow was non-null, so at least one order exists
    val axes = Seq(("recency_days", true, "r_rnk", 0L),
      ("frequency", false, "f_rnk", 1L),
      ("monetary_c", false, "m_rnk", 2L))
    val bounds = axes.zipWithIndex.map { case (_, i) =>
      (spanRow.getLong(1 + 2 * i), spanRow.getLong(2 + 2 * i))
    }
    val binned = axes.zip(bounds).foldLeft(base) {
      case (df, ((metric, asc, _, ax), (lo, hi))) =>
        val span = Hist.Span(lo, hi)
        df.withColumn(s"_bin_$ax", if (asc) span.asc(metric) else span.desc(metric))
    }
    val hist = Hist.bounded(
      binned.select(explode(array(axes.map { case (_, _, _, ax) =>
          col(s"_bin_$ax") + lit(ax * Hist.ScanBins) }: _*)).as("pb"))
        .groupBy("pb").agg(count(lit(1)).as("c")),
      "customer_rfm RFM")
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val ranked = axes.foldLeft(binned) {
      case (df, (metric, asc, out, ax)) =>
        val cells = hist.filter(_._1 / Hist.ScanBins == ax)
        val (before, _) = Hist.carries(cells.map(_._2), 0L)(_ + _)
        Hist.joinCarries(df, s"_bin_$ax", s"_carry_$ax",
            cells.map(_._1 % Hist.ScanBins).zip(before).toSeq,
            Seq(if (asc) col(metric).asc else col(metric).desc,
              col("o_custkey").asc), out)(w => row_number().over(w).cast("long"))
          .drop(s"_bin_$ax", s"_carry_$ax")
    }
    // exact ntile(5) from the global rank: first n%5 buckets take
    // ceil(n/5) rows (pinned against DuckDB's ntile above)
    def ntileOf(rnk: String): Column = {
      val q = n / 5
      val rem = n % 5
      if (q == 0) col(rnk)
      else when(col(rnk) <= rem * (q + 1),
          expr(s"($rnk - 1) DIV ${q + 1} + 1"))
        .otherwise(expr(s"$rem + ($rnk - 1 - ${rem * (q + 1)}) DIV $q + 1"))
    }
    ranked
      .withColumn("r_q", ntileOf("r_rnk"))
      .withColumn("f_q", ntileOf("f_rnk"))
      .withColumn("m_q", ntileOf("m_rnk"))
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_customers"),
        (sum("monetary_c").cast("double") / 100).as("monetary"),
        (sum("recency_days").cast("double") / count(lit(1)))
          .as("avg_recency_days"))
      .orderBy("r_q", "f_q", "m_q")
  }

  val customerRfmSql: String =
    s"""WITH per AS (
       |  SELECT o_custkey,
       |         max(o_orderdate) AS last_order,
       |         count(*) AS frequency,
       |         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
       |           AS monetary_c
       |  FROM orders GROUP BY 1),
       |mx AS (SELECT max(o_orderdate) AS anchor FROM orders),
       |base AS (
       |  SELECT p.*, date_diff('day', CAST(last_order AS DATE),
       |                        CAST(anchor AS DATE)) AS recency_days
       |  FROM per p, mx),
       |scored AS (
       |  SELECT *,
       |         ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_q,
       |         ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
       |         ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey) AS m_q
       |  FROM base)
       |SELECT r_q, f_q, m_q, count(*) AS n_customers,
       |       CAST(sum(monetary_c) AS DOUBLE) / 100 AS monetary,
       |       CAST(sum(recency_days) AS DOUBLE) / count(*) AS avg_recency_days
       |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  private val LinkTopN = 50
  private val LinkTopQ = 32
  private val LinkMinCn = 2

  /** Link prediction over the capped co-purchase graph: for part pairs
    * NOT yet co-purchased, how many parts rank BOTH among their
    * strongest co-purchase partners — the item-item "customers who
    * bought these also bought" candidate generator, and the fourth
    * member of the graph family (affinity = edge weights, pagerank =
    * authority, triangles = clustering, this = missing edges).
    *
    * Scale: common-neighbor counting is a wedge self-join on the pivot
    * z — intrinsically Σ_z C(deg z, 2), and unlike triangle counting it
    * cannot be degree-oriented away (the pivot is structurally the
    * middle of the path). On a dense co-purchase graph that is
    * quadratic in the mean degree (MEASURED: the naive all-wedge join
    * at 600k lineitem is 1.2M edges, mean degree 120, 148M wedges,
    * ~7 min — and mean degree GROWS with orders-per-part, so 100× is
    * fatal). The production lever is NEIGHBORHOOD TRUNCATION (the
    * item-CF convention): each pivot emits wedges only among its
    * top-[[LinkTopQ]] neighbors by (co-order weight desc, partkey) —
    * an exact-integer, engine-identical rank — bounding the wedge join
    * at |parts|·C(q,2), LINEAR in catalog size no matter how dense
    * co-purchase gets. cn(a,b) = #{z : a,b ∈ topq(z)} and the Jaccard
    * is over the TRUNCATED incidence sets {z : x ∈ topq(z)} (sized
    * tdeg_a/tdeg_b — in-degrees of the truncated digraph), so the
    * score is exact for its stated definition, not an unlabeled
    * approximation of the full-graph one. Candidates prune to
    * cn ≥ [[LinkMinCn]] map-side; the anti-join removes existing
    * edges; ordering is support desc, then tighter union (the same-cn
    * Jaccard order), then the pair — a deterministic total order.
    * Top-N via TakeOrderedAndProject. */
  def partLinkPrediction(spark: SparkSession, sfDir: String,
                         topN: Int = LinkTopN,
                         topQ: Int = LinkTopQ,
                         maxBasket: Int = AffinityMaxBasket): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    require(topQ > 1, s"topQ must be > 1, got $topQ")
    val wed = TextAnalysis.maybeCache(
      coPurchaseWeightedEdgesMaterialized(spark, sfDir, maxBasket))
    val dirAdj = wed.select(col("u").as("z"), col("v").as("x"), col("w"))
      .union(wed.select(col("v").as("z"), col("u").as("x"), col("w")))
    val topq = TextAnalysis.maybeCache(dirAdj
      .withColumn("rk", row_number().over(
        Window.partitionBy("z").orderBy(col("w").desc, col("x").asc)))
      .filter(col("rk") <= topQ)
      .select("z", "x"))
    val tdeg = topq.groupBy("x").agg(count(lit(1)).as("td"))
    val cn = topq.as("e1")
      .join(topq.as("e2"),
        col("e1.z") === col("e2.z") && col("e1.x") < col("e2.x"))
      .select(col("e1.x").as("a"), col("e2.x").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= LinkMinCn)
    cn.join(wed.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .join(tdeg.select(col("x").as("a"), col("td").as("tdeg_a")), "a")
      .join(tdeg.select(col("x").as("b"), col("td").as("tdeg_b")), "b")
      .select(col("a").as("part_a"), col("b").as("part_b"), col("cn"),
        col("tdeg_a"), col("tdeg_b"),
        (col("tdeg_a") + col("tdeg_b") - col("cn")).as("union_sz"),
        Det.r(col("cn").cast("double")
          / (col("tdeg_a") + col("tdeg_b") - col("cn")), 6).as("jaccard"))
      .orderBy(col("cn").desc, col("union_sz").asc,
        col("part_a").asc, col("part_b").asc)
      .limit(topN)
  }

  def partLinkPredictionSqlFor(topN: Int, topQ: Int,
                               maxBasket: Int): String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |br AS (SELECT ok, pk,
       |              row_number() OVER (PARTITION BY ok ORDER BY pk) AS rk
       |       FROM op),
       |wed AS (SELECT a.pk AS u, b.pk AS v, count(*) AS w
       |        FROM br a JOIN br b ON a.ok = b.ok AND a.pk < b.pk
       |        WHERE a.rk <= $maxBasket AND b.rk <= $maxBasket
       |        GROUP BY 1, 2),
       |dir AS (SELECT u AS z, v AS x, w FROM wed
       |        UNION ALL SELECT v, u, w FROM wed),
       |topq AS (SELECT z, x FROM (
       |           SELECT z, x,
       |                  row_number() OVER (PARTITION BY z
       |                                     ORDER BY w DESC, x) AS rk
       |           FROM dir)
       |         WHERE rk <= $topQ),
       |tdeg AS (SELECT x, count(*) AS td FROM topq GROUP BY x),
       |cn AS (SELECT e1.x AS a, e2.x AS b, count(*) AS cn
       |       FROM topq e1 JOIN topq e2 ON e1.z = e2.z AND e1.x < e2.x
       |       GROUP BY 1, 2
       |       HAVING count(*) >= $LinkMinCn),
       |cand AS (SELECT cn.a, cn.b, cn.cn FROM cn
       |         WHERE NOT EXISTS (SELECT 1 FROM wed
       |                           WHERE wed.u = cn.a AND wed.v = cn.b))
       |SELECT a AS part_a, b AS part_b, cn,
       |       d1.td AS tdeg_a, d2.td AS tdeg_b,
       |       d1.td + d2.td - cn AS union_sz,
       |       ${Det.rSql("CAST(cn AS DOUBLE) / (d1.td + d2.td - cn)", 6)} AS jaccard
       |FROM cand
       |JOIN tdeg d1 ON d1.x = a
       |JOIN tdeg d2 ON d2.x = b
       |ORDER BY cn DESC, union_sz, part_a, part_b
       |LIMIT $topN""".stripMargin

  val queries: Seq[Query] = Seq(
    Query.templated("market_share", a => marketShareSqlFor(a.str("nation", ShareNation),
        a.str("region", ShareRegion), a.str("ptype", SharePartType))) { (s, d, a) =>
      marketShare(s, d, a.str("nation", ShareNation), a.str("region", ShareRegion),
          a.str("ptype", SharePartType)) },
    Query("small_qty_revenue", smallQtyRevenueSql)(smallQtyRevenue),
    Query.templated("large_volume_customers",
        a => largeVolumeCustomersSqlFor(a.long("min_qty", LargeQtyThreshold),
        a.int("top_n", LargeVolTopN))) { (s, d, a) =>
      largeVolumeCustomers(s, d, a.long("min_qty", LargeQtyThreshold),
          a.int("top_n", LargeVolTopN)) },
    Query("disc_revenue_brands", discRevenueBrandsSql)(discRevenueBrands),
    Query("dormant_high_balance", dormantHighBalanceSql)(dormantHighBalance),
    Query.templated("part_name_profit",
        a => partNameProfitSqlFor(a.str("pattern", ProfitNamePattern))) { (s, d, a) =>
      partNameProfit(s, d, a.str("pattern", ProfitNamePattern)) },
    Query("customer_order_dist", customerOrderDistSql)(customerOrderDist),
    Query("region_part_value", regionPartValueSql)(regionPartValue),
    Query("min_cost_supplier", minCostSupplierSql)(minCostSupplier),
    Query("supplier_part_counts", supplierPartCountsSql)(supplierPartCounts),
    Query("dominant_ship_suppliers", dominantShipSuppliersSql)(dominantShipSuppliers),
    Query("returned_item_losses", returnedItemLossesSql)(returnedItemLosses),
    Query.templated("local_supplier_volume",
        a => localSupplierVolumeSqlFor(a.str("region", LocalVolRegion))) { (s, d, a) =>
      localSupplierVolume(s, d, a.str("region", LocalVolRegion)) },
    Query("forecast_revenue_uplift", forecastRevenueUpliftSql)(forecastRevenueUplift),
    Query.templated("nation_trade_volume",
        a => nationTradeVolumeSqlFor(a.str("nation1", TradeNation1),
        a.str("nation2", TradeNation2))) { (s, d, a) =>
      nationTradeVolume(s, d, a.str("nation1", TradeNation1), a.str("nation2", TradeNation2)) },
    Query("customer_rfm", customerRfmSql)(customerRfm),
    Query.templated("part_link_prediction",
        a => partLinkPredictionSqlFor(a.int("top_n", LinkTopN), a.int("top_q", LinkTopQ),
        a.int("max_basket", AffinityMaxBasket))) { (s, d, a) =>
      partLinkPrediction(s, d, a.int("top_n", LinkTopN), a.int("top_q", LinkTopQ),
          a.int("max_basket", AffinityMaxBasket)) },
    Query("orders_gini", ordersGiniSql)(ordersGini),
    Query("parts_abc_class", partsAbcClassSql)(partsAbcClass),
    Query("km_ship_survival", kmShipSurvivalSql)(kmShipSurvival),
    Query("revenue_ewma_anomaly", revenueEwmaAnomalySql)(revenueEwmaAnomaly),
    Query("revenue_bridge", revenueBridgeSql)(revenueBridge),
    Query("benford_audit", benfordAuditSql)(benfordAudit),
    Query("rfm_segments", rfmSegmentsSql)(rfmSegments),
    Query("window_battery", windowBatterySql)(windowBattery),
    Query("zorder_orders", zorderOrdersSql)(zorderOrders),
    Query("orders_forecast_snaive", ordersForecastSnaiveSql)(ordersForecastSnaive),
    Query("revenue_cusum", revenueCusumSql)(revenueCusum),
    Query("revenue_changepoint", revenueChangepointSql)(revenueChangepoint),
    Query("k_anonymity", kAnonymitySql)(kAnonymity),
    Query("revenue_pareto_share", revenueParetoShareSql)(revenueParetoShare),
    Query("nation_revenue_yoy", nationRevenueYoySql)(nationRevenueYoy),
    Query("orders_recon", ordersReconSql)(ordersRecon),
    Query.args("shipping_priority", shippingPrioritySql) { (s, d, a) =>
      shippingPriority(s, d, a.str("segment", ShipSegment)) },
    Query("promo_revenue", promoRevenueSql)(promoRevenue),
    Query.templated("late_order_priority",
        a => lateOrderPrioritySqlFor(a.int("lag_days", LateLagDays))) { (s, d, a) =>
      lateOrderPriority(s, d, a.int("lag_days", LateLagDays)) },
    Query("top_supplier", topSupplierSql)(topSupplier),
    Query.templated("waiting_supplier",
        a => waitingSupplierSqlFor(a.int("lag_days", LateLagDays))) { (s, d, a) =>
      waitingSupplier(s, d, a.int("lag_days", LateLagDays)) },
    Query("grouping_sets_orders", groupingSetsOrdersSql)(groupingSetsOrders),
    Query("order_backlog_monthly", orderBacklogMonthlySql)(orderBacklogMonthly),
    Query("supplier_hhi", supplierHhiSql)(supplierHhi),
    Query("revenue_trend_theilsen", revenueTrendTheilSenSql)(revenueTrendTheilSen),
    Query("l_diversity", lDiversitySql)(lDiversity),
    Query("t_closeness", tClosenessSql)(tCloseness),
    Query.templated("basket_rules", a => basketRulesSqlFor(a.int("top_n", RulesTopN),
        a.int("max_basket", AffinityMaxBasket))) { (s, d, a) =>
      basketRules(s, d, a.int("top_n", RulesTopN), a.int("max_basket", AffinityMaxBasket)) },
    Query("corr_matrix", corrMatrixSql)(corrMatrix),
    Query("mv_refresh_incremental", mvRefreshIncrementalSql)(mvRefreshIncremental),
    Query("table_profile", tableProfileSql)(tableProfile),
    Query("table_profile_approx", tableProfileApproxSql)(tableProfileApprox),
    Query("dq_violations", dqViolationsSql)(dqViolations),
    Query("bloom_semi_join", bloomSemiJoinSql)(bloomSemiJoin),
    Query("skyline_parts", skylinePartsSql)(skylineParts),
    Query.args("fuzzy_join_parts", fuzzyJoinPartsSql) { (s, d, a) =>
      fuzzyJoinParts(s, d, a.int("max_dist", FuzzyMaxDist)) },
    Query.args("entity_resolution", entityResolutionSql) { (s, d, a) =>
      entityResolution(s, d, a.int("max_dist", FuzzyMaxDist)) },
    Query("pricing_summary", pricingSummarySql)(pricingSummary),
    Query("distinct_agg", distinctAggSql)(distinctAgg),
    Query("rollup_orders", rollupOrdersSql)(rollupOrders),
    Query("cube_orders", cubeOrdersSql)(cubeOrders),
    Query("stats_agg", statsAggSql)(statsAgg),
    Query("percentile_prices", percentilePricesSql)(percentilePrices),
    Query("regional_revenue", regionalRevenueSql)(regionalRevenue),
    Query("customer_order_stats", customerOrderStatsSql)(customerOrderStats),
    Query("semi_join_heavy", semiJoinHeavyOrdersSql)(semiJoinHeavyOrders),
    Query("anti_join_idle", antiJoinIdleCustomersSql)(antiJoinIdleCustomers),
    Query("window_top_orders", windowTopOrdersSql)(windowTopOrders),
    Query("window_running_spend", windowRunningSpendSql)(windowRunningSpend),
    Query("window_order_gaps", windowOrderGapsSql)(windowOrderGaps),
    Query("top_parts_revenue", topPartsByRevenueSql)(topPartsByRevenue),
    Query("set_ops_nations", setOpsNationsSql)(setOpsNations),
    Query("distinct_part_kinds", distinctPartKindsSql)(distinctPartKinds),
    Query("scalar_battery", scalarBatterySql)(scalarBattery),
    Query("approx_distinct_parts", approxDistinctPartsSql)(approxDistinctParts),
    Query("sql_above_avg_orders", sqlAboveAvgOrdersSql)(sqlAboveAvgOrders),
    Query.args("part_affinity", partAffinitySql) { (s, d, a) =>
      partAffinity(s, d, a.int("top_n", AffinityTopN), a.int("max_basket", AffinityMaxBasket)) },
    Query.args("part_pagerank", partPagerankSql) { (s, d, a) =>
      partPagerank(s, d, a.int("top_n", PrTopN), a.int("max_basket", AffinityMaxBasket)) },
    Query.args("triangle_count", triangleCountSql) { (s, d, a) =>
      triangleCount(s, d, a.int("max_basket", AffinityMaxBasket)) },
    Query("key_skew_report", keySkewReportSql)(keySkewReport(_, _)),
  )
}
