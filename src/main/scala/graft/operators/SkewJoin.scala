package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, Tables}
import graft.queries.Det

/** Skew-mitigation join: salt the skewed (big) side into `salt` sub-keys
  * and replicate the matching rows of the small side once per sub-key, so
  * one hot key spreads over `salt` reducers instead of melting one.
  *
  * AQE's skew-join split handles most cases at runtime
  * (spark.sql.adaptive.skewJoin.enabled, on in GraftSession); explicit
  * salting remains the tool when a single KEY (not partition) is hot —
  * AQE can split a skewed partition's files, but a sort-merge join still
  * funnels one join key through one task. Salting rewrites the key space
  * itself.
  *
  * Inner equi-joins only (replicating the small side is join-semantics-
  * preserving there; outer variants need null-handling per salt group). */
object SkewJoin {

  def saltedInnerJoin(big: DataFrame, small: DataFrame, bigKey: String,
                      smallKey: String, salt: Int): DataFrame = {
    // deterministic per-row salt from the row's own content (so plans are
    // stable run to run; duplicate rows sharing a salt only re-concentrate
    // exact-duplicate skew, which groupBy partial-agg absorbs anyway)
    val salted = big.withColumn("__salt",
      pmod(hash(struct(big.columns.map(col): _*)), lit(salt)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    salted.join(replicated,
      salted(bigKey) === replicated(smallKey) &&
        salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }

  /** Demo query: per-mktsegment order stats through the salted join —
    * value-identical to the plain join (the oracle), different shuffle
    * topology. */
  def saltedJoinStats(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        Det.cents(col("o_totalprice")).as("price_c"))
    val cust = Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment")
    saltedInnerJoin(orders, cust, "o_custkey", "c_custkey", 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        (sum("price_c").cast("double") / 100).as("revenue"))
      .orderBy("c_mktsegment")
  }

  val saltedJoinStatsSql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("salted_join_stats", saltedJoinStatsSql)(saltedJoinStats),
  )
}
