package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the scale properties claimed in the
  * scaladocs, asserted against the actual physical plans so a future
  * refactor can't silently trade them away. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("pricing_summary: shipdate filter and column pruning reach the scan") {
    val p = plan("pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "reads pruned columns only")
  }

  test("regional_revenue: dimension joins broadcast; year filter pushed as range") {
    val p = plan("regional_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "year rewrite active")
  }

  test("top_parts_revenue: top-k plans as TakeOrderedAndProject, not global sort") {
    val p = plan("top_parts_revenue")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("TPC-H classics: dims broadcast, selective filters reach the scans") {
    // market_share: 4 broadcast dim joins, exactly one fact-fact shuffle
    // join (lineitem⋈orders), type filter pushed to the part scan
    val ms = plan("market_share")
    assert(ms.split("BroadcastHashJoin").length - 1 >= 4, "dims broadcast")
    assert(ms.contains("EqualTo(p_type,PROMO)"), "type filter pushed")
    // small_qty_revenue: brand filter pushed; the fact joins the brand
    // slice via broadcast before any per-part aggregation
    val sq = plan("small_qty_revenue")
    assert(sq.contains("EqualTo(p_brand,Brand#4)"), "brand filter pushed")
    assert(sq.contains("BroadcastHashJoin"))
    // large_volume_customers: per-order partial sums before the shuffle,
    // top-N via TakeOrderedAndProject
    val lv = plan("large_volume_customers")
    assert(lv.contains("partial_sum") || lv.contains("partial sum"),
      "HAVING pushdown aggregates map-side")
    assert(lv.contains("TakeOrderedAndProject"))
    // disc_revenue_brands: the hoisted brand prefilter reaches the part
    // scan as an IN (the OR's common factor, pruned before broadcast)
    val dr = plan("disc_revenue_brands")
    assert(dr.contains("In(p_brand") || dr.contains("p_brand IN"),
      "brand IN prefilter pushed")
    // dormant_high_balance: dormancy is a real anti join, and the
    // date prune reaches the orders scan
    val dh = plan("dormant_high_balance")
    assert(dh.contains("LeftAnti"))
    assert(dh.contains("GreaterThanOrEqual(o_orderdate"), "date prune pushed")
    // part_name_profit: pattern prunes the dim scan; supplier/nation/part
    // all broadcast; TakeOrdered absent (full rollup, ordered output)
    val pp = plan("part_name_profit")
    assert(pp.contains("StringContains(p_name,bolt)"), "pattern pushed")
    assert(pp.split("BroadcastHashJoin").length - 1 >= 2)
  }

  test("TPC-H classics r12: outer/correlated/NOT-IN/semi-chain shapes") {
    // customer_order_dist (Q13): priority filter pushed to the orders
    // scan, per-customer counts partial-aggregate BEFORE the shuffle
    val cd = plan("customer_order_dist")
    assert(cd.contains("EqualTo(o_orderpriority,1-URGENT)"), "filter pushed")
    assert(cd.contains("partial_count"), "map-side partial count")
    // region_part_value (Q11): region filter pushed; the global scalar
    // is a broadcast nested-loop cross of ONE row, not a shuffle
    val rv = plan("region_part_value")
    assert(rv.contains("EqualTo(r_name,ASIA)"), "region filter pushed")
    assert(rv.contains("BroadcastHashJoin"))
    // min_cost_supplier (Q2): type slice pushed, semi-prune before the
    // pair distinct, per-part window (never SinglePartition), top-N via
    // TakeOrderedAndProject
    val mc = plan("min_cost_supplier")
    assert(mc.contains("EqualTo(p_type,LARGE)"), "type filter pushed")
    assert(mc.contains("LeftSemi"), "fact semi-pruned before distinct")
    assert(mc.contains("TakeOrderedAndProject"))
    assert(!mc.contains("SinglePartition"), s"window funnels:\n$mc")
    // supplier_part_counts (Q16): size IN-list pushed, NOT IN as a real
    // anti join, no pre-distinct exchange (the distinct agg subsumes it)
    val sp = plan("supplier_part_counts")
    // (the In(p_size,...) entry is truncated out of the plan's display
    // string — the brand exclusion proves the slice predicates reach
    // the same scan's PushedFilters)
    assert(sp.contains("Not(EqualTo(p_brand,Brand#4))"), "slice filters pushed")
    assert(sp.contains("LeftAnti"), "NOT IN plans as anti join")
    // dominant_ship_suppliers (Q20): ship-year range and name prefix
    // both pushed; the supplier qualification is a real semi join
    val ds = plan("dominant_ship_suppliers")
    assert(ds.contains("GreaterThanOrEqual(l_shipdate"), "year range pushed")
    assert(ds.contains("StringStartsWith(p_name,blue)"), "prefix pushed")
    assert(ds.contains("LeftSemi"))
    // returned_item_losses (Q10): both selective filters reach their
    // scans; top-N via TakeOrderedAndProject
    val rl = plan("returned_item_losses")
    assert(rl.contains("EqualTo(l_returnflag,R)"), "returnflag pushed")
    assert(rl.contains("GreaterThanOrEqual(o_orderdate"), "date range pushed")
    assert(rl.contains("TakeOrderedAndProject"))
    // local_supplier_volume (Q5): order-year range and region name both
    // pushed; the nation⋈region slice broadcasts
    val lsv = plan("local_supplier_volume")
    assert(lsv.contains("GreaterThanOrEqual(o_orderdate"), "date range pushed")
    assert(lsv.contains("EqualTo(r_name,ASIA)"), "region filter pushed")
    assert(lsv.contains("BroadcastHashJoin"))
    // forecast_revenue_uplift (Q6): zero joins, both band predicates
    // pushed to the one scan, map-side partial agg
    val fr = plan("forecast_revenue_uplift")
    assert(fr.contains("GreaterThanOrEqual(l_discount,0.05)"), "band pushed")
    // (the PushedFilters display string truncates mid-list — the qty
    // bound shows in the Filter node above the scan)
    assert(fr.contains("< 24.0"), "qty bound in the scan filter")
    assert(!fr.contains("Join"), "Q6 shape must not join")
    assert(fr.contains("partial_sum") || fr.contains("partial sum"),
      "map-side partial agg")
    // nation_trade_volume (Q7): ship range pushed to the fact scan,
    // nation pair IN pushed to both dim scans
    val nt = plan("nation_trade_volume")
    assert(nt.contains("GreaterThanOrEqual(l_shipdate"), "ship range pushed")
    assert(nt.contains("In(n_name"), "nation pair IN pushed")
  }

  test("semi/anti joins plan as Semi/Anti, with the selective filter pushed") {
    assert(plan("semi_join_heavy").contains("LeftSemi"))
    assert(plan("semi_join_heavy").contains("GreaterThan(l_quantity,45.0)"))
    assert(plan("anti_join_idle").contains("LeftAnti"))
  }

  test("window queries partition by key (no single-partition global window)") {
    // a Window with an empty partition spec would show 'Window [..] []'
    // after an Exchange SinglePartition — assert the partition column is in
    // the window spec instead
    val p = plan("window_top_orders")
    assert(p.contains("Window") && !p.contains("SinglePartition"),
      s"window funnels to one partition:\n$p")
    // Spark 4 pushes the rank<=k filter down as WindowGroupLimit:
    // per-partition group top-k BEFORE the shuffle — the scalable twin
    // of the agg_custom_topk Aggregator demo (whose ObjectHashAggregate
    // sort-falls-back at 128 corpus-scaled groups per task)
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not pushed as WindowGroupLimit:\n$p")
  }

  test("wordcount aggregates partially before the shuffle (partial_count)") {
    assert(plan("wordcount").contains("partial_count"))
  }

  test("multikey grouping sets expand once (single Expand, single shuffle pair)") {
    val p = plan("multikey_counts")
    assert("Expand".r.findAllIn(p).length == 1)
  }

  test("approx table profile is TWO scans (r13: fused Expand + HLL pass)") {
    // the registered bound-checked leg: r13 fused the six per-column
    // union branches (six full scans) into (A) one scan whose exact
    // distincts share the multi-distinct Expand and (B) one Expand-free
    // single-group HLL scan — the HLLs must not ride the Expand (its
    // partial pass groups per-row on the gid=0 branch and would ship an
    // ~8 KB HLL buffer set per group; measured 135 s). 2.3x at sf0.1
    // (see OPTIMIZATION_r13.md)
    val p = plan("table_profile_approx")
    assert(p.contains("Expand"), s"expected fused multi-distinct Expand:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 2, s"two scans:\n$p")
    // the production raw leg stays approx-only: one scan, no Expand
    val raw = queries.Relational.tableProfileApproxRaw(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!raw.contains("Expand"))
    assert("Scan parquet".r.findAllIn(raw).length == 1, s"single scan:\n$raw")
    // the exact profile shares the two-scan shape (Expand distincts +
    // keyless streaming min/max)
    val pe = plan("table_profile")
    assert(pe.contains("Expand"))
    assert("Scan parquet".r.findAllIn(pe).length == 2, s"two scans:\n$pe")
  }

  test("mm queries range-partition on (modality, doc_id), not hash on modality") {
    // hash-partitioning on modality alone collapses a 2-modality corpus to
    // 2 tasks; range partitioning spreads the same contiguity guarantee
    // over all shuffle partitions
    Seq("mm_features", "mm_frame_sample", "mm_resize").foreach { q =>
      val p = plan(q)
      assert(p.contains("rangepartitioning(modality"), s"$q:\n$p")
      assert(!p.contains("hashpartitioning(modality#"), s"$q hash-partitions on modality:\n$p")
    }
  }

  test("mm repartition yields >2 non-empty partitions") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    // AQE rightly coalesces the 500-row test corpus to one partition; turn
    // coalescing off to observe the partitioning scheme's scale behavior
    // (at real volume AQE sizes partitions by bytes, not down to 2)
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val nonEmpty = queries.Multimodal.assets(spark, sf)
        .repartitionByRange(col("modality"), col("doc_id"))
        .select(spark_partition_id().as("pid")).distinct().count()
      assert(nonEmpty > 2, s"modality repartition landed in only $nonEmpty partitions")
    } finally spark.conf.set(key, prev)
  }

  test("embedding_cosine_dedup: no collect_list block rows, grid spread over partitions") {
    val p = plan("embedding_cosine_dedup")
    assert(!p.contains("collect_list"),
      s"a block materialized as one row (2 GB record limit at scale):\n$p")
    assert(!p.contains("SinglePartition"), s"grid funnels to one partition:\n$p")
  }

  test("round-4 additions: top-N via TakeOrdered, pruned scans") {
    Seq("bpe_pair_counts", "key_skew_report", "token_pmi", "winnow_overlap")
      .foreach { q =>
        assert(plan(q).contains("TakeOrderedAndProject"),
          s"$q should plan its top-N as TakeOrderedAndProject")
      }
    // bpe's whole pair stream is builtins — partial agg proves the pair
    // explosion folds map-side before its one shuffle
    assert(plan("bpe_pair_counts").contains("partial_count"))
    // the two documents-only queries read exactly the columns they use
    Seq("vocab_growth" -> "struct<doc_id:bigint,text:string>",
        "bpe_pair_counts" -> "struct<text:string>").foreach { case (q, rs) =>
      assert(plan(q).contains(rs), s"$q scan should be pruned to $rs")
    }
  }

  test("round-5 additions: scans pruned to the consumed columns") {
    Seq("para_dedup" -> "struct<doc_id:bigint,text:string>",
        "bpe_apply" -> "struct<doc_id:bigint,text:string>",
        "embedding_dedup_lsh" -> "struct<vec_id:bigint,embedding:array<float>>")
      .foreach { case (q, rs) =>
        assert(plan(q).contains(rs), s"$q scan should be pruned to $rs")
      }
    // bpe_train's returned frame is the driver-built merge table (the
    // training jobs ran eagerly) — it must not rescan anything
    assert(!plan("bpe_train").contains("ReadSchema"))
  }

  test("round-8 continuation: pruned scans, anti joins, shared exchanges") {
    // per-table constraint scans prune to exactly the checked columns
    Seq("scd2_order_status" ->
          "struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string",
        "corr_matrix" ->
          "struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double>",
        "window_battery" ->
          "struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double,o_orderdate:timestamp")
      .foreach { case (q, rs) =>
        assert(plan(q).contains(rs), s"$q scan should be pruned to $rs:\n${plan(q)}")
      }
    // referential checks plan as anti joins, never as full outer shapes
    assert("LeftAnti".r.findAllIn(plan("dq_violations")).length == 2)
    // the SCD2 chain shares ONE o_custkey exchange across its four
    // window/agg stages (exchange reuse is the query's scale claim)
    assert("Exchange hashpartitioning\\(o_custkey#\\d+L, \\d+\\)".r
      .findAllIn(plan("scd2_order_status")).length == 1,
      s"scd2 should shuffle on o_custkey exactly once:\n${plan("scd2_order_status")}")
    // basket_rules' top-N is TakeOrdered, not a global sort
    assert(plan("basket_rules").contains("TakeOrderedAndProject"))
  }

  test("no registered query funnels data through SinglePartition or CollectLimit") {
    // global sorts plan as range partitioning; a SinglePartition exchange
    // carrying table data (or a CollectLimit) is a driver-width funnel.
    // The ONE sanctioned SinglePartition shape is the final step of a
    // global scalar aggregate (e.g. tfidf's corpus doc count): its input
    // is pre-aggregated, so the exchange moves one row per partition.
    // This gate reads the plan before execution. At runtime
    // graft.plans.SmallShuffleCollapse may run a post-shuffle sort or
    // aggregate in one task, but only when AQE would read its input as
    // one partition anyway (a bound in bytes); that is not a funnel.
    // Collect per-query failures and assert ONCE at the end: one query
    // that fails analysis must report as one failure, not disable the
    // funnel gate for the other 100+ queries (the r6 regression — the
    // whole sweep died on events_rolling_24h's analysis error).
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        val p = plan(name)
        val perQuery = scala.collection.mutable.Buffer.empty[String]
        if (p.contains("CollectLimit")) perQuery += s"$name has a CollectLimit"
        val lines = p.linesIterator.toArray
        lines.zipWithIndex.foreach { case (l, i) =>
          if (l.contains("Exchange SinglePartition")) {
            val parent = if (i > 0) lines(i - 1) else ""
            if (!(parent.contains("HashAggregate(keys=[]") ||
                  parent.contains("ObjectHashAggregate(keys=[]") ||
                  parent.contains("SortAggregate(keys=[]") ||
                  // SortAggregate prints its grouping as `key=[...]`
                  // (singular) — table_profile's final scalar agg plans
                  // this way under the distinct-agg Expand rewrite
                  parent.contains("SortAggregate(key=[]")))
              perQuery += s"$name funnels data through SinglePartition"
          }
        }
        perQuery.toSeq
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          Seq(s"$name failed to plan: ${msg.linesIterator.take(2).mkString(" ")}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
