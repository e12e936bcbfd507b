package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.{Query, Tables}

/** Typed custom reducer (SURVEY.md §2.3 R7): the reference ships arbitrary
  * Python `reducer(key, values)` generators; the Spark-native equivalent of
  * that extension point is `Aggregator[IN, BUF, OUT]` — compiled,
  * Encoder-serialized state, partial-aggregation-capable (the buffer
  * merges map-side, unlike a `mapGroups` reducer which shuffles raw rows).
  *
  * Demo instance: per-key top-k values with a bounded sorted buffer —
  * state is O(k) per group at any scale, merged associatively across
  * partitions. */
object Top3Prices extends Aggregator[(Long, Double), Seq[Double], Seq[Double]] {
  private val K = 3
  override def zero: Seq[Double] = Nil
  override def reduce(b: Seq[Double], a: (Long, Double)): Seq[Double] =
    (a._2 +: b).sorted(Ordering[Double].reverse).take(K)
  override def merge(x: Seq[Double], y: Seq[Double]): Seq[Double] =
    (x ++ y).sorted(Ordering[Double].reverse).take(K)
  override def finish(r: Seq[Double]): Seq[Double] = r
  override def bufferEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
}

object TopKAggregator {

  /** Top-3 order prices per customer through the typed Aggregator path
    * (same values as the window-ranking formulation — ties only permute
    * equal prices, so the per-rank PRICE sequence is deterministic).
    *
    * Scale note: this query exists as the R7 arbitrary-reducer
    * EXTENSION-POINT demo. A Dataset Aggregator plans as
    * ObjectHashAggregate, whose partial stage falls back to SORT-based
    * aggregation at 128 distinct groups per task — o_custkey is
    * corpus-scaled, so at warehouse volume this shape sorts the raw
    * order stream per partition (the r12 kNN edge-build lesson,
    * PERF.md). The production forms are `window_top_orders` (Spark 4
    * plans the rank filter as WindowGroupLimit — per-partition group
    * top-k BEFORE the shuffle, pinned in PlanShapeSpec) or a native
    * O(k)-buffer TypedImperativeAggregate with the fallback threshold
    * scoped up around the one materializing action
    * (`Similarity.knnEdgesMaterialized` is the template). */
  def customTopKPrices(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_totalprice"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .agg(Top3Prices.toColumn.name("prices"))
      .toDF("o_custkey", "prices")
      .select(col("o_custkey"), posexplode(col("prices")).as(Seq("pos", "price")))
      .select(col("o_custkey"), (col("pos") + 1).as("rnk"), col("price"))
      .orderBy("o_custkey", "rnk")
  }

  val customTopKPricesSql: String =
    """SELECT o_custkey, rnk, price
      |FROM (SELECT o_custkey, o_totalprice AS price,
      |             row_number() OVER (PARTITION BY o_custkey
      |                                ORDER BY o_totalprice DESC) AS rnk
      |      FROM orders)
      |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("agg_custom_topk", customTopKPricesSql)(customTopKPrices),
  )
}
