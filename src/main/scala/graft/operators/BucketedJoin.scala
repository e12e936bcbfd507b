package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, Substrate, Tables}
import graft.queries.Det

/** Write-time co-located join: bucket BOTH fact tables by the join key at
  * write time (`bucketBy` + `sortBy`), so every later join on that key
  * runs with NO Exchange — the shuffle the reference's architecture pays
  * on every single job (mapper output → hash partition → reducer fetch,
  * worker/worker.py map→reduce barrier) is amortized once into the
  * storage layout.
  *
  * This is the single highest-leverage layout decision at 100 TB: a
  * fact-fact join (orders ⋈ lineitem) over bucketed tables reads
  * co-numbered buckets pairwise — zero network movement of either table —
  * where the unbucketed plan shuffles both sides in full. The demo query
  * registers the whole round trip (bucketed write → catalog read → join →
  * agg) in the driver's oracle gate; value-identity with the plain join
  * is the oracle, the no-Exchange plan shape is asserted in
  * BucketingSpec.
  *
  * Both tables are [[graft.Substrate]] sinks with a `Bucketed` layout:
  * the write happens eagerly at DataFrame-construction time, once per
  * (sfDir, table stamps, session), and later constructions (Verify, each
  * bench pass, the PlanShapeSpec sweep) read the same catalog tables; a
  * table rewritten in place gets a fresh sink. */
object BucketedJoin {

  private val Buckets = 16

  /** Per-orderstatus line stats through the bucketed orders⋈lineitem
    * join. Money integerised to cents before the sum (exact,
    * order-independent — see Relational's determinism discipline). */
  def bucketedJoinOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Substrate.materialize(spark, "graft_li_bkt_", sfDir,
      Substrate.Bucketed(Buckets, "l_orderkey"))(
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"),
          Det.cents(col("l_extendedprice")).as("price_c")))
    val ord = Substrate.materialize(spark, "graft_ord_bkt_", sfDir,
      Substrate.Bucketed(Buckets, "o_orderkey"))(
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderstatus")))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        (sum("price_c").cast("double") / 100).as("revenue"))
      .orderBy("o_orderstatus")
  }

  val bucketedJoinOrdersSql: String =
    """SELECT o_orderstatus, count(*) AS n_items,
      |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100 AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("bucketed_join_orders", bucketedJoinOrdersSql)(bucketedJoinOrders),
  )
}
