package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, Tables}

/** Scalar/array function-library batteries — the breadth axis of the
  * "complete library" claim (the reference exposes only the regex/string
  * ops inside its example mappers; SURVEY.md §2.4). Every function here is
  * chosen for cross-engine semantic identity and exercised over fixture
  * data with a value-exact oracle. Functions with known divergent edge
  * semantics (array_position's missing-element result, initcap's word
  * rules) are deliberately excluded. */
object Functions {

  /** String battery over `part`/`customer`: reverse/repeat/pad/replace/
    * translate/instr/split_part/left/right/starts_with — all codegen'd. */
  def stringBattery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(
        col("p_partkey"),
        reverse(col("p_name")).as("rev_name"),
        repeat(substring(col("p_brand"), 1, 5), 2).as("brand2"),
        lpad(col("p_type"), 12, "*").as("type_lpad"),
        rpad(col("p_type"), 12, "#").as("type_rpad"),
        regexp_replace(col("p_name"), "widget", "gadget").as("renamed"),
        translate(col("p_brand"), "Bnd#", "bND_").as("brand_tr"),
        instr(col("p_name"), "widget").as("widget_at"),
        expr("split_part(p_name, ' ', 1)").as("first_word"),
        expr("left(p_name, 4)").as("head4"),
        expr("right(p_name, 4)").as("tail4"),
        col("p_name").startsWith("small").as("is_small"),
        ascii(col("p_brand")).as("brand_ascii"))
      .orderBy("p_partkey")

  val stringBatterySql: String =
    """SELECT p_partkey,
      |       reverse(p_name) AS rev_name,
      |       repeat(substring(p_brand, 1, 5), 2) AS brand2,
      |       lpad(p_type, 12, '*') AS type_lpad,
      |       rpad(p_type, 12, '#') AS type_rpad,
      |       regexp_replace(p_name, 'widget', 'gadget', 'g') AS renamed,
      |       translate(p_brand, 'Bnd#', 'bND_') AS brand_tr,
      |       strpos(p_name, 'widget') AS widget_at,
      |       split_part(p_name, ' ', 1) AS first_word,
      |       left(p_name, 4) AS head4,
      |       right(p_name, 4) AS tail4,
      |       starts_with(p_name, 'small') AS is_small,
      |       ascii(p_brand) AS brand_ascii
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Array battery: per-order quantity list (sorted for determinism —
    * collect_list order is partitioning-dependent) probed with
    * size/element_at/slice/contains/min/max/sum and stringified.
    * One groupBy shuffle; array ops are per-row after that. */
  def arrayBattery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list("qty")).as("qs"))
      .select(
        col("l_orderkey"),
        size(col("qs")).as("n_items"),
        element_at(col("qs"), 1).as("min_qty"),
        element_at(col("qs"), -1).as("max_qty"),
        concat_ws(",", slice(col("qs"), 1, 3)).as("smallest3"),
        array_contains(col("qs"), 25L).as("has_25"),
        expr("aggregate(qs, 0L, (a, x) -> a + x)").as("sum_qty"),
        concat_ws(",", col("qs")).as("qty_list"))
      .orderBy("l_orderkey")

  val arrayBatterySql: String =
    """SELECT l_orderkey,
      |       len(qs) AS n_items,
      |       qs[1] AS min_qty,
      |       qs[-1] AS max_qty,
      |       array_to_string(list_slice(qs, 1, 3), ',') AS smallest3,
      |       list_contains(qs, 25) AS has_25,
      |       CAST(list_sum(qs) AS BIGINT) AS sum_qty,
      |       array_to_string(qs, ',') AS qty_list
      |FROM (SELECT l_orderkey, list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
      |      FROM lineitem GROUP BY l_orderkey)
      |ORDER BY l_orderkey""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("string_battery", stringBatterySql)(stringBattery),
    Query("array_battery", arrayBatterySql)(arrayBattery),
  )
}
