package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the relational core (queries/Relational.scala) on the
  * sf0.001 fixture — semantics checks that don't depend on DuckDB. */
class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf
  import spark.implicits._

  test("pricing summary: groups are (returnflag, linestatus), counts total to filtered rows") {
    val df = queries.Relational.pricingSummary(spark, sf).cache()
    val total = df.agg(sum("count_order")).as[Long].head()
    val filtered = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp")).count()
    assert(total == filtered)
    // exact cents arithmetic: avg_price * count ≈ sum_base_price
    df.collect().foreach { r =>
      val avg = r.getAs[Double]("avg_price")
      val cnt = r.getAs[Long]("count_order")
      val sumP = r.getAs[Double]("sum_base_price")
      assert(math.abs(avg * cnt - sumP) < 1e-6 * cnt)
    }
  }

  test("semi + anti join partition orders/customers") {
    val nOrders = Tables.orders(spark, sf).count()
    val semi = queries.Relational.semiJoinHeavyOrders(spark, sf).count()
    // semi output must be a subset of orders, and heavy lineitems exist
    assert(semi > 0 && semi < nOrders)
    val nCust = Tables.customer(spark, sf).count()
    val anti = queries.Relational.antiJoinIdleCustomers(spark, sf).count()
    val withUrgent = Tables.customer(spark, sf).join(
      Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey").distinct(),
      col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(anti + withUrgent == nCust)
  }

  test("window top orders: ≤3 per customer, rank contiguous from 1, descending price") {
    val rows = queries.Relational.windowTopOrders(spark, sf)
      .collect().groupBy(_.getAs[Long]("o_custkey"))
    assert(rows.nonEmpty)
    rows.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.length <= 3)
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq == (1 to sorted.length))
      val prices = sorted.map(_.getAs[Double]("o_totalprice"))
      assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
    }
  }

  test("running spend is non-decreasing per customer and ends at customer total") {
    val df = queries.Relational.windowRunningSpend(spark, sf).collect()
      .groupBy(_.getAs[Long]("o_custkey"))
    df.foreach { case (_, rs) =>
      val cums = rs.map(_.getAs[Double]("cum_spend"))
      assert(cums.zip(cums.tail).forall { case (a, b) => b >= a - 1e-9 })
    }
  }

  test("rollup emits grand total + per-year subtotals consistent with leaves") {
    val rows = queries.Relational.rollupOrders(spark, sf).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val leaves = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    assert(grand.head.getAs[Long]("n_orders") == leaves.map(_.getAs[Long]("n_orders")).sum)
    // per-year subtotal equals sum of that year's leaves
    val perYear = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    perYear.foreach { sub =>
      val y = sub.getAs[Int]("o_year")
      val leafSum = leaves.filter(_.getAs[Int]("o_year") == y).map(_.getAs[Long]("n_orders")).sum
      assert(sub.getAs[Long]("n_orders") == leafSum)
    }
  }

  test("set ops: intersect + except = union of customer nations") {
    val m = queries.Relational.setOpsNations(spark, sf).collect()
      .groupBy(_.getString(0)).map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    assert((m("intersect") & m("except")).isEmpty)
    assert((m("intersect") | m("except")).subsetOf(m("union")))
  }

  test("approx distinct within rsd bound of exact") {
    val exact = queries.Relational.distinctAgg(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_parts")).toMap
    queries.Relational.approxDistinctPartsRaw(spark, sf).collect().foreach { r =>
      val e = exact(r.getString(0)).toDouble
      val a = r.getAs[Long]("approx_parts").toDouble
      assert(math.abs(a - e) / e < 0.10, s"approx $a vs exact $e")
    }
    // the oracled variant's bound column must hold (the oracle pins TRUE)
    queries.Relational.approxDistinctParts(spark, sf).collect().foreach { r =>
      assert(r.getAs[Boolean]("within_rsd"))
      assert(r.getAs[Long]("exact_parts") == exact(r.getString(0)))
    }
  }

  test("approx table profile: raw leg within rsd of exact, checked leg bound holds") {
    val exact = queries.Relational.tableProfile(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val raw = queries.Relational.tableProfileApproxRaw(spark, sf).collect()
    assert(raw.length == exact.size)
    raw.foreach { r =>
      val e = exact(r.getString(0))
      val ed = e.getAs[Long]("n_distinct").toDouble
      val ad = r.getAs[Long]("approx_distinct").toDouble
      assert(math.abs(ad - ed) <= 3 * 0.015 * ed,
        s"${r.getString(0)}: approx $ad vs exact $ed")
      // nulls and rendered min/max are exact in both legs
      assert(r.getAs[Long]("n_nulls") == e.getAs[Long]("n_nulls"))
      assert(r.getAs[String]("min_s") == e.getAs[String]("min_s"))
      assert(r.getAs[String]("max_s") == e.getAs[String]("max_s"))
    }
    queries.Relational.tableProfileApprox(spark, sf).collect().foreach { r =>
      assert(r.getAs[Boolean]("within_rsd"), r.getString(0))
    }
  }

  test("regional revenue joins produce only fixture regions and positive revenue") {
    val rows = queries.Relational.regionalRevenue(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("revenue") > 0))
    val regions = Tables.region(spark, sf).select("r_name").as[String].collect().toSet
    assert(rows.map(_.getAs[String]("region")).toSet.subsetOf(regions))
  }

  test("events funnel: stages monotonically shrink and discriminate") {
    val rows = queries.Temporal.eventsFunnel(spark, sf).collect()
      .sortBy(_.getAs[String]("stage"))
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("1_view", "2_click_after_view", "3_purchase_after_click"))
    val ns = rows.map(_.getAs[Long]("n_users"))
    assert(ns(0) >= ns(1) && ns(1) >= ns(2), s"funnel must shrink: ${ns.toSeq}")
    assert(ns(0) > ns(2), "24h conversion window must discriminate")
  }

  test("part_pagerank: damped integer ranks, ordered, deterministic") {
    val rows = queries.Relational.partPagerank(spark, sf).collect()
    assert(rows.length == 50)
    val rs = rows.map(_.getAs[Long]("rank_micros"))
    // base mass: every node receives at least the (1-d) teleport term
    assert(rs.forall(_ >= 150000L))
    // order contract: rank desc, part asc on ties
    val keyed = rows.map(r => (r.getAs[Long]("rank_micros"), r.getAs[Long]("part")))
    assert(keyed.zip(keyed.tail).forall { case ((ra, pa), (rb, pb)) =>
      ra > rb || (ra == rb && pa < pb) })
    // the fixpoint is a pure function of the data (integer arithmetic
    // end-to-end): a second run is bit-identical
    val again = queries.Relational.partPagerank(spark, sf).collect()
      .map(_.toString).toSeq
    assert(again == rows.map(_.toString).toSeq)
  }

  test("triangle_count: golden census on a known graph; fixture invariants") {
    // basket {1,2,3} -> the only triangle; basket {4,5} -> a lone edge.
    // degs: 1:2, 2:2, 3:2, 4:1, 5:1 -> W = 3 wedges, T = 1, trans = 1.0
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_tri_golden").getAbsolutePath
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val g = queries.Relational.triangleCount(spark, dir).head()
    assert(g.getAs[Long]("n_nodes") == 5 && g.getAs[Long]("n_edges") == 4)
    assert(g.getAs[Long]("n_wedges") == 3 && g.getAs[Long]("n_triangles") == 1)
    assert(g.getAs[Double]("transitivity") == 1.0)
    // real fixture: internal consistency — 3T never exceeds the wedge
    // count (each triangle closes exactly 3 wedges), transitivity in [0,1]
    val f = queries.Relational.triangleCount(spark, sf).head()
    assert(3 * f.getAs[Long]("n_triangles") <= f.getAs[Long]("n_wedges"))
    val t = f.getAs[Double]("transitivity")
    assert(t >= 0.0 && t <= 1.0)
  }

  test("table_profile: one row per column, stats consistent with the table") {
    val prof = queries.Relational.tableProfile(spark, sf).collect()
    assert(prof.length == 6)
    val orders = Tables.orders(spark, sf)
    val n = orders.count()
    assert(prof.forall(_.getAs[Long]("n_rows") == n))
    val byCol = prof.map(r => r.getAs[String]("col_name") -> r).toMap
    // o_orderkey is the unique key: no nulls, distinct == rows, min/max exact
    val ok = byCol("o_orderkey")
    assert(ok.getAs[Long]("n_nulls") == 0 && ok.getAs[Long]("n_distinct") == n)
    val Seq(mn, mx) = orders.agg(min("o_orderkey"), max("o_orderkey"))
      .collect().head.toSeq.map(_.toString)
    assert(ok.getAs[String]("min_s") == mn && ok.getAs[String]("max_s") == mx)
    // low-cardinality enums profile to their fixture domains
    assert(byCol("o_orderstatus").getAs[Long]("n_distinct") <= 3)
    assert(byCol("o_orderpriority").getAs[Long]("n_distinct") <= 5)
  }

  test("mv_refresh_incremental: merge equals full recompute; delta filter pushed") {
    val got = queries.Relational.mvRefreshIncremental(spark, sf)
    val full = Tables.lineitem(spark, sf)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
      .groupBy("ship_month", "l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        (sum("c").cast("double") / 100).as("revenue"))
      .orderBy("ship_month", "l_returnflag")
    assert(got.collect().map(_.toString).toSeq ==
      full.collect().map(_.toString).toSeq)
    // the refresh path's only corpus scan is the delta, range-pruned at
    // the reader (the base is a LocalTableScan of memoized model state)
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"delta predicate should reach PushedFilters:\n$p")
    assert(p.contains("LocalTableScan"), "base MV should be local model state")
  }

  test("mv_refresh_incremental: a lineitem rewritten in place refreshes from the new rows") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val sf01 = new java.io.File(sf).getParent + "/sf0.01"
    val dir = Files.createTempDirectory("graft_mv_rewrite")
    val fresh = Files.createTempDirectory("graft_mv_fresh")
    def mv(d: java.nio.file.Path) =
      queries.Relational.mvRefreshIncremental(spark, d.toString).collect().toSeq
    try {
      Files.copy(Paths.get(sf01, "lineitem.parquet"), dir.resolve("lineitem.parquet"))
      val before = mv(dir)
      // the 'N' rows as one parquet file, written aside, then copied over
      // the table at the same path and into a fresh dir
      val aside = fresh.resolve("aside").toString
      Tables.lineitem(spark, dir.toString).filter(col("l_returnflag") === "N")
        .coalesce(1).write.parquet(aside)
      val part = new java.io.File(aside).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      Files.copy(part, dir.resolve("lineitem.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.copy(part, fresh.resolve("lineitem.parquet"))
      val rewritten = mv(dir)
      assert(rewritten == mv(fresh))
      assert(rewritten.length < before.length)
    } finally {
      Substrate.deleteRecursively(dir.toFile)
      Substrate.deleteRecursively(fresh.toFile)
    }
  }

  test("rfm_segments: one row per customer, scores monotone in their dimension") {
    val rows = queries.Relational.rfmSegments(spark, sf).collect()
    val nCust = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(rows.length == nCust)
    // monotone: more spend never lowers m_score; more recency (smaller
    // r_days) never lowers r_score; frequency likewise
    def mono(v: org.apache.spark.sql.Row => Long, s: org.apache.spark.sql.Row => Int,
             asc: Boolean): Unit = {
      val sorted = rows.sortBy(v)
      val scores = if (asc) sorted.map(s) else sorted.map(s).reverse
      scores.sliding(2).foreach {
        case Array(a, b) => assert(a <= b, s"score not monotone: $a then $b")
        case _ =>
      }
    }
    mono(_.getAs[Long]("f_orders"), _.getAs[Int]("f_score"), asc = true)
    mono(r => (r.getAs[Double]("m_dollars") / 100).toLong,
      _.getAs[Int]("m_score"), asc = true)
    mono(_.getAs[Long]("r_days"), _.getAs[Int]("r_score"), asc = false)
    // composite code decomposes
    assert(rows.forall(r => r.getAs[Int]("rfm") ==
      r.getAs[Int]("r_score") * 100 + r.getAs[Int]("f_score") * 10 +
        r.getAs[Int]("m_score")))
    // quintiles actually spread (fixture has >5 distinct spend levels)
    assert(rows.map(_.getAs[Int]("m_score")).distinct.sorted.toSeq == Seq(1, 2, 3, 4, 5))
  }

  test("window_battery: per-customer invariants across all eight window shapes") {
    val rows = queries.Relational.windowBattery(spark, sf).collect()
      .groupBy(_.getAs[Long]("o_custkey"))
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .collect().groupBy(_.getAs[Long]("o_custkey"))
    rows.foreach { case (c, rs) =>
      val byRn = rs.sortBy(_.getAs[Int]("rn"))
      assert(byRn.map(_.getAs[Int]("rn")).toSeq == (1 to rs.length))
      // ntile balance: group sizes differ by at most 1
      val sizes = rs.groupBy(_.getAs[Int]("nt4")).values.map(_.length)
      assert(sizes.max - sizes.min <= 1)
      // rank >= dense_rank, cume_dist in (0, 1]
      assert(rs.forall(r => r.getAs[Int]("rk") >= r.getAs[Int]("drk")))
      assert(rs.forall { r =>
        val cd = r.getAs[Double]("cd"); cd > 0 && cd <= 1.0 })
      // navigation: next of row i is cents of row i+1 (recomputed)
      val cents = orders(c).map(r =>
        r.getAs[Long]("o_orderkey") -> r.getAs[Long]("cents")).toMap
      // first/last frame values are real member values
      val memberVals = cents.values.toSet
      assert(rs.forall(r => memberVals.contains(r.getAs[Long]("first_cents"))))
      assert(rs.forall(r => memberVals.contains(r.getAs[Long]("last_cents"))))
    }
  }

  test("corr_matrix: six pairs, bounded, and agrees with Spark's builtin corr") {
    val rows = queries.Relational.corrMatrix(spark, sf).collect()
    assert(rows.length == 6)
    assert(rows.forall { r =>
      val c = r.getAs[Double]("corr"); c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9 })
    val got = rows.map(r =>
      (r.getAs[String]("col_a"), r.getAs[String]("col_b")) ->
        r.getAs[Double]("corr")).toMap
    val builtin = Tables.lineitem(spark, sf)
      .agg(corr(col("l_quantity"), col("l_extendedprice"))).head().getDouble(0)
    assert(math.abs(got(("qty", "price")) - builtin) < 1e-6,
      s"exact-moment corr ${got(("qty", "price"))} vs builtin $builtin")
  }

  test("zorder_orders: buckets are small rectangles that prune on BOTH dimensions") {
    val rows = queries.Relational.zorderOrders(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.orders(spark, sf).count())
    val minC = rows.map(_.getAs[Long]("min_cust")).min
    val maxC = rows.map(_.getAs[Long]("max_cust")).max
    val minD = rows.map(_.getAs[Long]("min_day")).min
    val maxD = rows.map(_.getAs[Long]("max_day")).max
    val globalArea = (maxC - minC + 1).toDouble * (maxD - minD + 1)
    val avgArea = rows.map(r =>
      (r.getAs[Long]("max_cust") - r.getAs[Long]("min_cust") + 1).toDouble *
        (r.getAs[Long]("max_day") - r.getAs[Long]("min_day") + 1)).sum / rows.length
    assert(avgArea < globalArea / 16,
      s"z-buckets cover $avgArea avg area vs $globalArea global — no locality")
    // min/max stats prune a 1/16-wide predicate on EITHER dimension:
    // most buckets' bounding boxes must miss it (a single-dimension sort
    // would intersect every bucket on the other dimension)
    def hitFrac(lo: Long, hi: Long, mn: String, mx: String): Double =
      rows.count(r => r.getAs[Long](mx) >= lo && r.getAs[Long](mn) <= hi)
        .toDouble / rows.length
    val custW = (maxC - minC + 1) / 16
    val dayW = (maxD - minD + 1) / 16
    assert(hitFrac(minC, minC + custW, "min_cust", "max_cust") < 0.6)
    assert(hitFrac(minD, minD + dayW, "min_day", "max_day") < 0.6)
  }

  test("basket_rules: rule math reconciles against raw supports") {
    val rules = queries.Relational.basketRules(spark, sf).collect()
    assert(rules.length == 50)
    val op = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_partkey")))
    val nOrders = op.map(_._1).distinct.length.toLong
    val itemSupp = op.groupBy(_._2).map { case (p, rs) => p -> rs.length.toLong }
    val pairSupp = op.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (p, rs) => p -> rs.size.toLong }
    rules.foreach { r =>
      val (a, b) = (r.getAs[Long]("ant"), r.getAs[Long]("cons"))
      val key = if (a < b) (a, b) else (b, a)
      assert(pairSupp(key) == r.getAs[Long]("supp_ab"))
      val conf = pairSupp(key).toDouble / itemSupp(a)
      val lift = pairSupp(key).toDouble * nOrders / (itemSupp(a) * itemSupp(b))
      assert(math.abs(r.getAs[Double]("conf") - conf) < 1e-5)
      assert(math.abs(r.getAs[Double]("lift") - lift) < 1e-5)
      assert(r.getAs[Double]("conf") > 0 && r.getAs[Double]("conf") <= 1.0)
    }
    // output is lift-sorted
    val lifts = rules.map(_.getAs[Double]("lift"))
    assert(lifts.zip(lifts.tail).forall { case (x, y) => x >= y })
  }

  test("nation_revenue_yoy: growth recomputes; first year per nation has null growth") {
    val rows = queries.Relational.nationRevenueYoy(spark, sf).collect()
    val byNation = rows.groupBy(_.getAs[Int]("nation"))
    byNation.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("yr"))
      assert(sorted.head.isNullAt(sorted.head.fieldIndex("yoy_pct")))
      sorted.sliding(2).foreach {
        case Array(prev, cur)
          if cur.getAs[Int]("yr") == prev.getAs[Int]("yr") + 1 =>
          val want = (cur.getAs[Double]("revenue") - prev.getAs[Double]("revenue")) /
            prev.getAs[Double]("revenue") * 100
          assert(math.abs(cur.getAs[Double]("yoy_pct") - want) < 1e-2)
          assert(cur.getAs[Double]("revenue_prior") == prev.getAs[Double]("revenue"))
        case _ =>
      }
    }
    // revenue totals reconcile with the raw join
    val tot = rows.map(_.getAs[Double]("revenue")).sum
    val want = Tables.orders(spark, sf).agg(
      sum(round(col("o_totalprice") * 100).cast("long"))).head().getLong(0) / 100.0
    assert(math.abs(tot - want) < 1.0)
  }

  test("dq_violations: clean fixture is all-zero; doctored corpus counts each class") {
    val clean = queries.Relational.dqViolations(spark, sf).collect()
    assert(clean.length == 9 && clean.forall(_.getAs[Long]("n_bad") == 0))

    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_dq_bad").getAbsolutePath
    Seq((1L, 10L, "F", 100.0, "1995-01-01", "1-URGENT"),
        (1L, 10L, "F", -5.0, "1995-01-02", "1-URGENT"), // dup key + nonpositive
        (2L, 99L, "O", 50.0, "1995-01-03", "5-LOW"))    // orphan custkey
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "ds", "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp(col("ds"))).drop("ds")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1L, 1L, 1, 1.0, 10.0, 0.05, 0.02, "N", "O"),
        (7L, 1L, 1L, 1, 1.0, 10.0, 0.05, 0.02, "N", "O"), // orphan orderkey
        (2L, 1L, 1L, 2, -3.0, 10.0, 0.05, 0.02, "N", "O")) // qty <= 0
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus")
      .withColumn("l_shipdate", to_timestamp(lit("1995-02-01")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "2024-01-01 00:00:00", Option(5L), "view", Option(1.0), "{}"),
        (2L, "2024-01-01 00:00:01", Option.empty[Long], "view", Option(1.0), "{}"),
        (3L, "2024-01-01 00:00:02", Option(6L), "view", Option(Double.NaN), "{}"))
      .toDF("event_id", "tss", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq((1L, "hello world", "en", "web", 11L), (2L, "   ", "en", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((1L, "widget", "B#1", "t", 0, 1.0), (2L, "gadget", "B#1", "t", 10, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((10L, "Customer#10", 1, 0.0, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")

    val m = queries.Relational.dqViolations(spark, dir).collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[Long]("n_bad")).toMap
    assert(m == Map(
      "orders_dup_orderkey" -> 1L,
      "orders_nonpositive_price" -> 1L,
      "lineitem_range_violations" -> 1L,
      "events_null_user" -> 1L,
      "events_nonfinite_value" -> 1L,
      "documents_empty_text" -> 1L,
      "part_size_range" -> 1L,
      "lineitem_orphan_orderkey" -> 1L,
      "orders_orphan_custkey" -> 1L))
  }

  test("entity_resolution: transitive closure merges A~B~C even when dist(A,C) > threshold") {
    import spark.implicits._
    // chain: each neighbor 1 edit apart, ends 3 edits apart (> maxDist 2)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_entity_res").getAbsolutePath
    Seq((1L, "widget alpha", "B#1", "t", 1, 1.0),
        (2L, "widget alphb", "B#1", "t", 1, 1.0),
        (3L, "widget alhpb", "B#1", "t", 1, 1.0),
        (4L, "widget olhpb", "B#1", "t", 1, 1.0),
        (5L, "completely other", "B#1", "t", 1, 1.0),
        (6L, "different brand", "B#2", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // the pairwise view misses the chain ends …
    val pairKeys = queries.Relational.fuzzyJoinParts(spark, dir).collect()
      .map(r => (r.getAs[Long]("a_key"), r.getAs[Long]("b_key"))).toSet
    assert(!pairKeys.contains((1L, 4L)),
      "fixture must keep the chain ends above the pair threshold")
    // … the resolved entity holds the whole chain
    val rows = queries.Relational.entityResolution(spark, dir).collect()
    assert(rows.length == 6)
    val ent = rows.map(r =>
      r.getAs[Long]("p_partkey") -> r.getAs[Long]("entity_id")).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(ent).distinct == Seq(1L),
      "chain must resolve into one entity labeled by its min key")
    assert(ent(5L) == 5L && ent(6L) == 6L, "singletons resolve to themselves")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_canonical") ==
        (r.getAs[Long]("p_partkey") == r.getAs[Long]("entity_id")))
    }
    assert(rows.filter(_.getAs[Long]("entity_id") == 1L)
      .forall(r => r.getAs[String]("canonical_name") == "widget alpha" &&
        r.getAs[Long]("n_members") == 4L))
  }

  test("entity_resolution: partitions part; entity_id is the min member key") {
    val rows = queries.Relational.entityResolution(spark, sf).collect()
    assert(rows.length == Tables.part(spark, sf).count())
    assert(rows.map(_.getAs[Long]("p_partkey")).distinct.length == rows.length)
    rows.groupBy(_.getAs[Long]("entity_id")).foreach { case (eid, grp) =>
      assert(grp.map(_.getAs[Long]("p_partkey")).min == eid,
        s"entity $eid not labeled by its min member")
      assert(grp.forall(_.getAs[Long]("n_members") == grp.length))
      assert(grp.count(_.getAs[Boolean]("is_canonical")) == 1)
    }
  }

  test("shipping_priority: <=10 rows sorted by revenue, BUILDING pre-cut orders only") {
    val rows = queries.Relational.shippingPriority(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(_.getAs[String]("order_date") < "1998-01-01"))
    val keys = rows.map(_.getAs[Long]("o_orderkey"))
    assert(keys.distinct.length == keys.length)
    val segs = Tables.orders(spark, sf)
      .filter(col("o_orderkey").isin(keys: _*))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .select("c_mktsegment").distinct().as[String].collect()
    assert(segs.toSet == Set("BUILDING"))
  }

  test("promo_revenue: pct in [0,100] and reconciles against a raw recompute") {
    val rows = queries.Relational.promoRevenue(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getAs[Double]("promo_pct")
      assert(p >= 0.0 && p <= 100.0)
      assert(r.getAs[Double]("promo_revenue") >= 0.0)
    }
    // raw recompute of one year's promo share in the same integer units
    val yr = rows.head.getAs[Int]("yr")
    val raw = Tables.lineitem(spark, sf)
      .filter(year(col("l_shipdate")) === yr)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .select((round(col("l_extendedprice") * 100).cast("long") *
          (lit(100) - round(col("l_discount") * 100).cast("long"))).as("u"),
        (col("p_type") === "PROMO").as("promo"))
      .agg(sum(when(col("promo"), col("u")).otherwise(0L)).as("p"),
        sum("u").as("t")).head()
    val expect = math.floor(
      raw.getAs[Long]("p").toDouble * 100 / raw.getAs[Long]("t") * 1e4 + 0.5) / 1e4
    assert(rows.head.getAs[Double]("promo_pct") == expect)
  }

  test("late_order_priority: counts equal a join+distinct recompute per priority") {
    val rows = queries.Relational.lateOrderPriority(spark, sf).collect()
    assert(rows.nonEmpty)
    val prios = Set("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    assert(rows.forall(r => prios(r.getAs[String]("o_orderpriority"))))
    val recompute = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.lineitem(spark, sf),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select("o_orderkey", "o_orderpriority").distinct()
      .groupBy("o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_late_orders") ==
        recompute(r.getAs[String]("o_orderpriority")))
    }
  }

  test("revenue_trend_theilsen: matches an in-memory pairwise-median recompute") {
    val r = queries.Relational.revenueTrendTheilSen(spark, sf).head()
    val daily = Tables.orders(spark, sf)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1995-01-01").cast("date")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(x => (x.getAs[Int]("d"), x.getAs[Long]("c")))
    assert(r.getAs[Long]("n_days") == daily.length)
    val slopes = (for {
      (d1, c1) <- daily; (d2, c2) <- daily if d1 < d2
    } yield math.floor((c2 - c1).toDouble * 1e6 / (d2 - d1) + 0.5).toLong)
      .sorted
    assert(r.getAs[Long]("n_pairs") == slopes.length)
    // exact interpolated median (percentile/quantile_cont definition)
    def medCont(xs: Seq[Double]): Double = {
      val p = 0.5 * (xs.length - 1)
      val lo = p.toInt
      if (lo + 1 >= xs.length) xs(lo)
      else xs(lo) + (p - lo) * (xs(lo + 1) - xs(lo))
    }
    val slopeMed = medCont(slopes.map(_.toDouble))
    assert(r.getAs[Double]("slope_dollars_per_day") ==
      math.floor(slopeMed / 1e8 * 1e6 + 0.5) / 1e6)
    val interMed = medCont(daily.map { case (d, c) =>
      c.toDouble * 1e6 - slopeMed * d }.sorted.toIndexedSeq)
    assert(r.getAs[Double]("intercept_dollars") ==
      math.floor(interMed / 1e8 * 1e4 + 0.5) / 1e4)
    // a robust trend over a growing synthetic ledger should be finite
    assert(!r.getAs[Double]("slope_dollars_per_day").isNaN)
  }

  test("supplier_hhi: bounded by evenness and monopoly; matches a share recompute") {
    val rows = queries.Relational.supplierHhi(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_suppliers")
      val hhi = r.getAs[Double]("hhi")
      // Σ share² is minimized at 1/n (even split) and maxed at 1 (monopoly);
      // ppm rounding can dip a hair below the floor
      assert(hhi >= 1.0 / n - 1e-4 && hhi <= 1.0 + 1e-9, s"yr ${r.get(0)}: $hhi")
    }
    // recompute one year from raw cents with the same ppm integerisation
    val yr = rows.head.getAs[Int]("yr")
    val cents = Tables.lineitem(spark, sf)
      .filter(year(col("l_shipdate")) === yr)
      .groupBy("l_suppkey")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("c"))
      .collect().map(_.getAs[Long]("c"))
    val tot = cents.sum.toDouble
    val hhiExpect = cents.map(c =>
      math.floor(c.toDouble * 1e6 / tot + 0.5).toLong).map(p => p * p).sum
    assert(rows.head.getAs[Double]("hhi") ==
      math.floor(hhiExpect / 1e12 * 1e6 + 0.5) / 1e6)
  }

  test("order_backlog_monthly: nonnegative ledger that drains to the lineless orders") {
    val rows = queries.Relational.orderBacklogMonthly(spark, sf).collect()
    assert(rows.nonEmpty)
    // months sorted, backlog never negative (completion is clamped to
    // greatest(last ship, placement) so cum_completed <= cum_placed)
    val months = rows.map(_.getAs[String]("month"))
    assert(months.sorted.toSeq == months.toSeq)
    assert(rows.forall(_.getAs[Long]("backlog_orders") >= 0))
    // totals: placements = all orders; completions = orders with lines;
    // final backlog = orders that never ship (no lineitems)
    val nOrders = Tables.orders(spark, sf).count()
    val nLined = Tables.orders(spark, sf).join(
      Tables.lineitem(spark, sf).select("l_orderkey").distinct(),
      col("o_orderkey") === col("l_orderkey"), "left_semi").count()
    assert(rows.map(_.getAs[Long]("n_placed")).sum == nOrders)
    assert(rows.map(_.getAs[Long]("n_completed")).sum == nLined)
    assert(rows.last.getAs[Long]("backlog_orders") == nOrders - nLined)
  }

  test("grouping_sets_orders: exactly the three declared sets, subtotals telescope") {
    val rows = queries.Relational.groupingSetsOrders(spark, sf).collect()
    assert(rows.nonEmpty)
    def g(r: org.apache.spark.sql.Row) =
      (r.getAs[Int]("g_status"), r.getAs[Int]("g_priority"))
    // only the declared sets appear: (0,0) leaves, (1,0) per-priority, (1,1) total
    assert(rows.map(g).toSet == Set((0, 0), (1, 0), (1, 1)))
    // no (status)-only set was requested -> no (0,1) rows (rollup would add it)
    val leaves = rows.filter(g(_) == ((0, 0)))
    val byPrio = rows.filter(g(_) == ((1, 0)))
    val total = rows.filter(g(_) == ((1, 1)))
    assert(total.length == 1)
    assert(total.head.getAs[Long]("n_orders") ==
      leaves.map(_.getAs[Long]("n_orders")).sum)
    byPrio.foreach { sub =>
      val p = sub.getAs[String]("o_orderpriority")
      assert(sub.getAs[Long]("n_orders") ==
        leaves.filter(_.getAs[String]("o_orderpriority") == p)
          .map(_.getAs[Long]("n_orders")).sum)
    }
    // aggregation NULLs carry the grouping flag, data NULLs don't exist here
    assert(byPrio.forall(r => r.isNullAt(r.fieldIndex("o_orderstatus"))))
    assert(leaves.forall(r => !r.isNullAt(r.fieldIndex("o_orderstatus"))))
  }

  test("waiting_supplier: counts match an in-memory sole-late recompute") {
    val rows = queries.Relational.waitingSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    // in-memory recompute on the small fixture: per (order, supplier)
    // late flag, qualifying = late on a >=2-supplier order with exactly
    // one late supplier
    val odate = Tables.orders(spark, sf)
      .select(col("o_orderkey"), unix_micros(col("o_orderdate").cast("timestamp")).as("us"))
      .collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("us")).toMap
    val ninetyDaysUs = 90L * 24 * 3600 * 1000000L
    val flags = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("us")).collect()
      .groupBy(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_suppkey")))
      .map { case ((o, s), ls) =>
        (o, s) -> ls.exists(_.getAs[Long]("us") > odate(o) + ninetyDaysUs)
      }
    val byOrder = flags.groupBy(_._1._1)
    val expect = flags.toSeq
      .filter { case ((o, _), late) =>
        late && byOrder(o).size >= 2 && byOrder(o).count(_._2) == 1 }
      .groupBy(_._1._2).map { case (s, qs) => s -> qs.size.toLong }
    assert(rows.map(r =>
      r.getAs[Long]("s_suppkey") -> r.getAs[Long]("numwait")).toMap == expect)
    // sorted by numwait desc with suppkey tie-break
    val pairs = rows.map(r =>
      (r.getAs[Long]("numwait"), r.getAs[Long]("s_suppkey")))
    pairs.sliding(2).foreach { case Array((na, sa), (nb, sb)) =>
      assert(na > nb || (na == nb && sa < sb))
    }
  }

  test("top_supplier: every row carries the global max revenue") {
    val rows = queries.Relational.topSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("total_revenue")).distinct
    assert(revs.length == 1)
    val mx = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        (lit(100) - round(col("l_discount") * 100).cast("long"))).as("u"))
      .agg(max("u")).as[Long].head()
    assert(revs.head == mx.toDouble / 10000)
  }

  test("revenue_changepoint finds an engineered step exactly") {
    // 10 days at $100/day then 10 at $200/day: the single-changepoint
    // CUSUM statistic peaks at the boundary (split after day index 10,
    // i.e. change_day = the 10th day), means exactly 100 and 200
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_changepoint").getAbsolutePath
    val rows = (0 until 20).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00"),
        if (i < 10) 100.0 else 200.0)
    }
    rows.toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = queries.Relational.revenueChangepoint(spark, dir).head()
    val day0 = (java.time.LocalDate.of(2024, 1, 10).toEpochDay).toInt
    assert(r.getAs[Int]("change_day") == day0)   // last $100 day
    assert(r.getAs[Long]("n_days") == 20 && r.getAs[Long]("left_days") == 10)
    assert(r.getAs[Double]("left_mean") == 100.0)
    assert(r.getAs[Double]("right_mean") == 200.0)
    assert(r.getAs[Double]("delta") == 100.0)
    // degenerate guards: one day -> no split emitted
    rows.take(1).toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assert(queries.Relational.revenueChangepoint(spark, dir).count() == 0)
  }

  test("benford_audit: dense digit grid, counts partition the corpus, shares total 1e6") {
    val rows = queries.Relational.benfordAudit(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("digit")).toSeq == (1 to 9))
    val n = rows.head.getAs[Long]("n")
    assert(rows.map(_.getAs[Long]("n_obs")).sum == n)
    assert(n == Tables.orders(spark, sf).count())
    // per-digit rounding leaves the ppm total within ±9 of exactly 1e6
    val ppmSum = rows.map(_.getAs[Long]("obs_ppb")).sum
    assert(math.abs(ppmSum - 1000000000L) <= 9, s"obs_ppb sum $ppmSum")
    rows.foreach { r =>
      assert(r.getAs[Double]("chi2_term") >= 0.0)
      assert(r.getAs[Double]("exp_count") > 0.0)
    }
  }

  test("revenue_bridge: effects decompose delta_rev exactly (telescoping identity)") {
    val rows = queries.Relational.revenueBridge(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Double]("delta_rev")
      val v = r.getAs[Double]("volume_effect")
      val p = r.getAs[Double]("price_effect")
      // each effect is 4-dp micro-rounded → identity holds within 1e-4+1e-4
      assert(math.abs(v + p - d) <= 2.1e-4, s"$v + $p != $d (${r.mkString(",")})")
    }
    // self-consistency: (nation, yr)'s rev_cur is (nation, yr+1)'s rev_prev
    val cur = rows.map(r => (r.getAs[String]("n_name"), r.getAs[Int]("yr")) ->
      r.getAs[Double]("rev_cur")).toMap
    rows.foreach { r =>
      cur.get((r.getAs[String]("n_name"), r.getAs[Int]("yr") - 1)).foreach { c =>
        assert(c == r.getAs[Double]("rev_prev"))
      }
    }
  }

  test("revenue_ewma_anomaly: every alert is outside the 2x band with full history") {
    val rows = queries.Relational.revenueEwmaAnomaly(spark, sf).collect()
    assert(rows.nonEmpty) // the sf0.001 daily series is noisy by construction
    val minDay = Tables.orders(spark, sf)
      .agg(min(col("o_orderdate").cast("date"))).head().getDate(0)
    rows.foreach { r =>
      val dir = r.getAs[String]("direction")
      val ratio = r.getAs[Long]("ratio_ppm")
      if (dir == "spike") assert(ratio == 0 || ratio >= 2000000L,
        s"spike ratio $ratio") // null→0 (num=0 spike); ⌊x+0.5⌋ can hit the edge
      else assert(dir == "dip" && (r.isNullAt(r.fieldIndex("ratio_ppm")) ||
        ratio <= 500000L), s"dip ratio $ratio") // ⌊x+0.5⌋ can land on the edge
      // full 16-day history: alert days start at min_day + 16
      assert(r.getDate(r.fieldIndex("day")).toLocalDate.isAfter(
        minDay.toLocalDate.plusDays(15)))
    }
  }

  test("km_ship_survival: at-risk accounting closes, survival monotone non-increasing") {
    val rows = queries.Relational.kmShipSurvival(spark, sf).collect()
    assert(rows.nonEmpty)
    // n_risk starts at the full cohort and drains by exactly d+c per time
    assert(rows.head.getAs[Long]("n_risk") ==
      rows.map(r => r.getAs[Long]("n_event") + r.getAs[Long]("n_censored")).sum)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_risk") == a.getAs[Long]("n_risk") -
        a.getAs[Long]("n_event") - a.getAs[Long]("n_censored"))
      // ln S is non-increasing wherever defined
      if (!a.isNullAt(a.fieldIndex("ln_surv_micro")) &&
          !b.isNullAt(b.fieldIndex("ln_surv_micro")))
        assert(b.getAs[Long]("ln_surv_micro") <= a.getAs[Long]("ln_surv_micro"))
      case _ => ()
    }
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("ln_surv_micro")) ||
      r.getAs[Long]("ln_surv_micro") <= 0))
    // both events and censoring are present on this fixture
    assert(rows.map(_.getAs[Long]("n_event")).sum > 0)
    assert(rows.map(_.getAs[Long]("n_censored")).sum > 0)
  }

  test("orders_gini: bounded, matches brute force on collected spends") {
    val r = queries.Relational.ordersGini(spark, sf).head()
    val g = r.getAs[Double]("gini")
    assert(g >= 0.0 && g < 1.0, s"gini $g")
    assert(r.getAs[Long]("n_customers") == Tables.customer(spark, sf).count())
    // brute force: sort ascending (x, custkey), same integer formula
    val xs = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(coalesce(sum(round(col("o_totalprice") * 100).cast("long")), lit(0L)).as("x"))
      .collect().map(row => (row.getAs[Long]("x"), row.getAs[Long]("c_custkey")))
      .sorted.map(_._1)
    val n = xs.length
    val six = xs.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
    val sx = xs.map(BigInt(_)).sum
    val expect = (BigInt(2) * six - BigInt(n + 1) * sx).toDouble /
      (BigInt(n) * sx).toDouble
    assert(math.abs(g - expect) < 2e-6, s"$g vs $expect")
  }

  test("parts_abc_class: classes partition parts and revenue, A-heavy by construction") {
    val rows = queries.Relational.partsAbcClass(spark, sf).collect()
    assert(rows.map(_.getAs[String]("abc_class")).toSeq == Seq("A", "B", "C"))
    val nParts = Tables.lineitem(spark, sf)
      .select("l_partkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_parts")).sum == nParts)
    val ppm = rows.map(r => r.getAs[String]("abc_class") -> r.getAs[Long]("share_ppm")).toMap
    assert(math.abs(rows.map(_.getAs[Long]("share_ppm")).sum - 1000000L) <= 3)
    // boundary semantics: A's inclusive share cannot exceed 80%, A+B 95%
    assert(ppm("A") <= 800000L && ppm("A") + ppm("B") <= 950001L, ppm.toString)
    // A carries more revenue per part than C (the point of the ranking)
    val perPart = rows.map(r => r.getAs[String]("abc_class") ->
      r.getAs[Double]("revenue") / r.getAs[Long]("n_parts")).toMap
    assert(perPart("A") > perPart("C"))
  }

  test("market_share: share bounded by construction, nation <= total per year") {
    val rows = queries.Relational.marketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tot = r.getAs[Double]("total_revenue")
      val nat = r.getAs[Double]("nation_revenue")
      val sh = r.getAs[Double]("mkt_share")
      assert(nat >= 0 && nat <= tot + 1e-6)
      assert(sh >= 0 && sh <= 1)
      assert(math.abs(sh - nat / tot) < 2e-6, s"share $sh vs ${nat / tot}")
    }
    // years strictly increasing (the ORDER BY is total)
    val years = rows.map(_.getAs[Int]("o_year")).toSeq
    assert(years == years.sorted && years.distinct == years)
  }

  test("small_qty_revenue: matches an in-memory per-part 20%-of-avg recompute") {
    val rows = queries.Relational.smallQtyRevenue(spark, sf).collect()
    val li = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf).filter(col("p_brand") === "Brand#4"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
      .collect().map(r => (r.getAs[Long]("l_partkey"), r.getAs[Long]("qty"), r.getAs[Long]("pc")))
    val stats = li.groupBy(_._1).map { case (k, xs) =>
      k -> (xs.length.toLong, xs.map(_._2).sum) }
    val qual = li.filter { case (k, q, _) =>
      val (n, sq) = stats(k); 5 * q * n < sq }
    if (qual.isEmpty) assert(rows.isEmpty)
    else {
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("n_items") == qual.length)
      val sp = qual.map(_._3).sum
      assert(math.abs(rows.head.getAs[Double]("total_revenue") - sp / 100.0) < 1e-6)
      assert(math.abs(rows.head.getAs[Double]("avg_yearly") - sp / 700.0) < 1e-6)
    }
  }

  test("large_volume_customers: every order's recomputed qty exceeds the threshold, sorted by price") {
    val rows = queries.Relational.largeVolumeCustomers(spark, sf).collect()
    assert(rows.nonEmpty)
    val sums = Tables.lineitem(spark, sf)
      .groupBy("l_orderkey").agg(sum(col("l_quantity").cast("long")).as("s"))
      .collect().map(r => r.getAs[Long]("l_orderkey") -> r.getAs[Long]("s")).toMap
    rows.foreach { r =>
      val ok = r.getAs[Long]("o_orderkey")
      assert(sums(ok) > 250L && sums(ok) == r.getAs[Long]("sum_qty"))
    }
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("disc_revenue_brands: matches an in-memory disjunctive-branch recompute") {
    val rows = queries.Relational.discRevenueBrands(spark, sf).collect()
    val li = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("p_size"),
        col("l_quantity").cast("long").as("qty"),
        (round(col("l_extendedprice") * 100).cast("long")
          * (lit(100) - round(col("l_discount") * 100).cast("long"))).as("rev"))
      .collect().map(r => (r.getAs[String]("p_brand"), r.getAs[Int]("p_size"),
        r.getAs[Long]("qty"), r.getAs[Long]("rev")))
    val qual = li.filter { case (b, s, q, _) =>
      (b == "Brand#4" && s >= 1 && s <= 15 && q >= 1 && q <= 11) ||
      (b == "Brand#16" && s >= 10 && s <= 25 && q >= 10 && q <= 20) ||
      (b == "Brand#19" && s >= 20 && s <= 35 && q >= 20 && q <= 30) }
    if (qual.isEmpty) assert(rows.isEmpty)
    else {
      assert(rows.length == 1 && rows.head.getAs[Long]("n_items") == qual.length)
      assert(math.abs(rows.head.getAs[Double]("revenue")
        - qual.map(x => BigInt(x._4)).sum.toDouble / 10000) < 1e-6)
    }
  }

  test("dormant_high_balance: matches the above-positive-average + no-recent-order recompute") {
    val rows = queries.Relational.dormantHighBalance(spark, sf).collect()
    val bals = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("b"))
      .collect().map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("c_nationkey"), r.getAs[Long]("b")))
    val pos = bals.map(_._3).filter(_ > 0)
    val recent = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1999-08-01").cast("timestamp"))
      .select("o_custkey").distinct().collect().map(_.getAs[Long]("o_custkey")).toSet
    val natName = Tables.nation(spark, sf).collect()
      .map(r => r.getAs[Long]("n_nationkey") -> r.getAs[String]("n_name")).toMap
    val qual = bals.filter { case (ck, _, b) =>
      BigInt(b) * pos.length > BigInt(pos.sum) && !recent.contains(ck) }
    val expect = qual.groupBy(t => natName(t._2))
      .map { case (n, xs) => n -> (xs.length.toLong, xs.map(_._3).sum / 100.0) }
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val (n, tb) = expect(r.getAs[String]("nation"))
      assert(r.getAs[Long]("n_custs") == n)
      assert(math.abs(r.getAs[Double]("total_bal") - tb) < 1e-6)
    }
  }

  test("part_name_profit: totals match a direct filtered recompute; Q9 ordering") {
    val rows = queries.Relational.partNameProfit(spark, sf).collect()
    assert(rows.nonEmpty)
    val expect = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf).filter(col("p_name").contains("bolt")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(spark, sf), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name"), year(col("o_orderdate")).as("y"),
        (round(col("l_extendedprice") * 100).cast("long")
          * (lit(100) - round(col("l_discount") * 100).cast("long"))).as("rev"))
      .collect().groupBy(r => (r.getAs[String]("n_name"), r.getAs[Int]("y")))
      .map { case (k, rs) => k -> (rs.map(r => BigInt(r.getAs[Long]("rev"))).sum, rs.length) }
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val (rev, n) = expect((r.getAs[String]("nation"), r.getAs[Int]("o_year")))
      assert(r.getAs[Long]("n_items") == n)
      assert(math.abs(r.getAs[Double]("revenue") - rev.toDouble / 10000) < 1e-6)
    }
    val key = rows.map(r => (r.getAs[String]("nation"), -r.getAs[Int]("o_year"))).toSeq
    assert(key == key.sorted)
  }

  test("part_link_prediction: pairs are non-edges, cn matches brute-force truncated incidence") {
    val rows = queries.Relational.partLinkPrediction(spark, sf).collect()
    assert(rows.nonEmpty)
    // brute-force the weighted capped co-purchase graph on sf0.001:
    // weights from partAffinity's full pair-count frame
    val wedges = queries.Relational.partAffinity(spark, sf, topN = Int.MaxValue)
      .collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
        r.getAs[Long]("n_orders")))
    val edges = wedges.map { case (u, v, _) => (u, v) }.toSet
    // per-pivot top-q strongest neighbors: weight desc, partkey asc
    val topq = wedges.flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
      .groupBy(_._1).map { case (z, xs) =>
        z -> xs.sortBy(t => (-t._3, t._2)).take(32).map(_._2).toSet }
    // truncated incidence sets {z : x in topq(z)}
    val incid = topq.toSeq.flatMap { case (z, xs) => xs.map(_ -> z) }
      .groupBy(_._1).map { case (x, zs) => x -> zs.map(_._2).toSet }
    rows.foreach { r =>
      val a = r.getAs[Long]("part_a"); val b = r.getAs[Long]("part_b")
      assert(!edges.contains((a, b)) && !edges.contains((b, a)),
        s"($a,$b) is an existing edge")
      val common = (incid(a) intersect incid(b)).size
      assert(r.getAs[Long]("cn") == common, s"cn($a,$b)")
      assert(r.getAs[Long]("tdeg_a") == incid(a).size)
      assert(r.getAs[Long]("tdeg_b") == incid(b).size)
      val u = incid(a).size + incid(b).size - common
      assert(r.getAs[Long]("union_sz") == u)
      assert(math.abs(r.getAs[Double]("jaccard") - common.toDouble / u) < 2e-6)
    }
    // deterministic total order: support desc, union asc, pair
    val key = rows.map(r => (-r.getAs[Long]("cn"), r.getAs[Long]("union_sz"),
      r.getAs[Long]("part_a"), r.getAs[Long]("part_b"))).toSeq
    assert(key == key.sorted)
  }

  test("customer_order_dist: buckets partition customers, mass matches urgent orders") {
    val rows = queries.Relational.customerOrderDist(spark, sf).collect()
    assert(rows.nonEmpty)
    val nCust = Tables.customer(spark, sf).count()
    val nUrgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    // every customer lands in exactly one bucket
    assert(rows.map(_.getAs[Long]("custdist")).sum == nCust)
    // Σ k·custdist(k) recovers the urgent-order total (the zero bucket
    // contributes nothing — the Q13 outer-join shape working)
    val mass = rows.map(r =>
      r.getAs[Long]("c_count") * r.getAs[Long]("custdist")).sum
    assert(mass == nUrgent, s"mass $mass != urgent orders $nUrgent")
    // the zero bucket exists at fixture scale (~e^-2 of customers)
    assert(rows.exists(_.getAs[Long]("c_count") == 0L), "zero bucket absent")
  }

  test("region_part_value: kept parts are exactly those above 1/1000 of the slice total") {
    val rows = queries.Relational.regionPartValue(spark, sf).collect()
    assert(rows.nonEmpty)
    // recompute the slice in memory (region suppliers are fixture-small)
    val asia = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    val pv = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long")
          * (lit(100) - round(col("l_discount") * 100).cast("long"))).as("r"))
      .collect()
      .filter(r => asia(r.getAs[Long]("l_suppkey")))
      .groupBy(_.getAs[Long]("l_partkey"))
      .map { case (k, xs) => k -> xs.map(x => BigInt(x.getAs[Long]("r"))).sum }
    val tot = pv.values.sum
    val expect = pv.filter { case (_, v) => v * 1000 > tot }
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val k = r.getAs[Long]("p_partkey")
      assert(expect.contains(k), s"part $k kept but below threshold")
      assert(math.abs(r.getAs[Double]("value") -
        expect(k).toDouble / 10000) < 1e-6)
    }
  }

  test("min_cost_supplier: each row is the true min-balance regional shipper of its part") {
    val rows = queries.Relational.minCostSupplier(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    val america = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf).filter(col("r_name") === "AMERICA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), round(col("s_acctbal") * 100).cast("long").as("bal"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("bal")).toMap
    val pairs = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey")
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => america.contains(p._2))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }
    rows.foreach { r =>
      val part = r.getAs[Long]("p_partkey")
      val supp = r.getAs[Long]("s_suppkey")
      val cands = pairs(part)
      val best = cands.minBy(s => (america(s), s))
      assert(supp == best, s"part $part picked $supp, true min $best")
    }
    // ordered by acctbal then partkey
    val key = rows.map(r => (r.getAs[Double]("s_acctbal"),
      r.getAs[Long]("p_partkey"))).toSeq
    assert(key == key.sorted)
  }

  test("supplier_part_counts: complaint suppliers excluded, one group recomputed") {
    // sf0.01: the sf0.001 fixture has NO negative-balance supplier, which
    // would make the NOT-IN leg vacuous — the larger fixture carries 6
    val sf01 = "/root/testdata/sf0.01"
    val rows = queries.Relational.supplierPartCounts(spark, sf01).collect()
    assert(rows.nonEmpty)
    val bad = Tables.supplier(spark, sf01).filter(col("s_acctbal") < 0)
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    assert(bad.nonEmpty, "fixture must carry negative-balance suppliers")
    val top = rows.head
    val recount = Tables.lineitem(spark, sf01)
      .join(Tables.part(spark, sf01),
        col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") === top.getAs[String]("p_brand") &&
        col("p_type") === top.getAs[String]("p_type") &&
        col("p_size") === top.getAs[Int]("p_size"))
      .select("l_suppkey").collect().map(_.getLong(0))
      .filterNot(bad).distinct.length
    assert(top.getAs[Long]("supplier_cnt") == recount)
    // descending count with full tie-break
    val key = rows.map(r => (-r.getAs[Long]("supplier_cnt"),
      r.getAs[String]("p_brand"), r.getAs[String]("p_type"),
      r.getAs[Int]("p_size"))).toSeq
    assert(key == key.sorted)
  }

  test("returned_item_losses: top row matches the brute-forced refund leader") {
    val rows = queries.Relational.returnedItemLosses(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val lo = lit("1998-01-01").cast("timestamp")
    val hi = lit("1998-04-01").cast("timestamp")
    val perCust = Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, sf)
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"),
        (round(col("l_extendedprice") * 100).cast("long")
          * (lit(100) - round(col("l_discount") * 100).cast("long"))).as("r"))
      .collect().groupBy(_.getAs[Long]("o_custkey"))
      .map { case (k, xs) => k -> xs.map(x => BigInt(x.getAs[Long]("r"))).sum }
    val best = perCust.toSeq.maxBy { case (k, v) => (v, -k) }
    assert(rows.head.getAs[Long]("c_custkey") == best._1)
    assert(math.abs(rows.head.getAs[Double]("revenue") -
      best._2.toDouble / 10000) < 1e-6)
    // ordering: revenue desc, custkey asc
    val key = rows.map(r => (-r.getAs[Double]("revenue"),
      r.getAs[Long]("c_custkey"))).toSeq
    assert(key == key.sorted)
  }

  test("local_supplier_volume: matches the brute-forced domestic ASIA revenue") {
    val rows = queries.Relational.localSupplierVolume(spark, sf).collect()
    val nat = Tables.nation(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getInt(2))).toMap
    val asia = Tables.region(spark, sf).collect()
      .find(_.getString(1) == "ASIA").get.getInt(0)
    val custNk = Tables.customer(spark, sf).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Int]("c_nationkey")).toMap
    val suppNk = Tables.supplier(spark, sf).collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Int]("s_nationkey")).toMap
    val ordCust = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp")).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("o_custkey")).toMap
    val exp = scala.collection.mutable.Map.empty[String, (BigInt, Long)]
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long")
          * (lit(100) - round(col("l_discount") * 100).cast("long"))).as("r"))
      .collect().foreach { r =>
        ordCust.get(r.getAs[Long]("l_orderkey")).foreach { ck =>
          val snk = suppNk(r.getAs[Long]("l_suppkey"))
          if (custNk(ck) == snk && nat(snk)._2 == asia) {
            val name = nat(snk)._1
            val (s, n) = exp.getOrElse(name, (BigInt(0), 0L))
            exp(name) = (s + BigInt(r.getAs[Long]("r")), n + 1)
          }
        }
      }
    assert(exp.nonEmpty && rows.map(_.getString(0)).toSet == exp.keySet)
    rows.foreach { r =>
      val (s, n) = exp(r.getString(0))
      assert(r.getAs[Long]("n_items") == n)
      assert(math.abs(r.getAs[Double]("revenue") - s.toDouble / 10000) < 1e-6)
    }
    val key = rows.map(r => (-r.getAs[Double]("revenue"), r.getString(0))).toSeq
    assert(key == key.sorted)
  }

  test("forecast_revenue_uplift: brute-forced band sum per ship year; ordered") {
    val rows = queries.Relational.forecastRevenueUplift(spark, sf).collect()
    val exp = Tables.lineitem(spark, sf)
      .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .select(year(col("l_shipdate")).as("y"),
        (round(col("l_extendedprice") * 100).cast("long")
          * round(col("l_discount") * 100).cast("long")).as("u"))
      .collect().groupBy(_.getInt(0)).map { case (y, xs) =>
        y -> (xs.map(x => BigInt(x.getAs[Long]("u"))).sum, xs.length.toLong) }
    assert(exp.nonEmpty && rows.map(_.getInt(0)).toSet == exp.keySet)
    assert(rows.map(_.getInt(0)).toSeq == rows.map(_.getInt(0)).toSeq.sorted)
    rows.foreach { r =>
      val (s, n) = exp(r.getInt(0))
      assert(r.getAs[Long]("n_items") == n)
      assert(math.abs(r.getAs[Double]("uplift_revenue") - s.toDouble / 10000) < 1e-6)
    }
  }

  test("nation_trade_volume: bilateral directions only, brute-forced per direction-year") {
    val rows = queries.Relational.nationTradeVolume(spark, sf).collect()
    val pair = Set("NATION_3", "NATION_7")
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet
      .subsetOf(Set(("NATION_3", "NATION_7"), ("NATION_7", "NATION_3"))))
    val nat = Tables.nation(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val custNk = Tables.customer(spark, sf).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Int]("c_nationkey")).toMap
    val suppNk = Tables.supplier(spark, sf).collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Int]("s_nationkey")).toMap
    val ordCust = Tables.orders(spark, sf).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("o_custkey")).toMap
    val exp = scala.collection.mutable.Map.empty[(String, String, Int), (BigInt, Long)]
    Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("y"),
        (round(col("l_extendedprice") * 100).cast("long")
          * (lit(100) - round(col("l_discount") * 100).cast("long"))).as("r"))
      .collect().foreach { r =>
        val sn = nat(suppNk(r.getAs[Long]("l_suppkey")))
        val cn = nat(custNk(ordCust(r.getAs[Long]("l_orderkey"))))
        if (pair(sn) && pair(cn) && sn != cn) {
          val k = (sn, cn, r.getAs[Int]("y"))
          val (s, n) = exp.getOrElse(k, (BigInt(0), 0L))
          exp(k) = (s + BigInt(r.getAs[Long]("r")), n + 1)
        }
      }
    assert(exp.nonEmpty && rows.length == exp.size)
    rows.foreach { r =>
      val (s, n) = exp((r.getString(0), r.getString(1), r.getInt(2)))
      assert(r.getAs[Long]("n_items") == n)
      assert(math.abs(r.getAs[Double]("revenue") - s.toDouble / 10000) < 1e-6)
    }
    val key = rows.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    assert(key == key.sorted)
  }

  test("customer_rfm: segments match a driver-side ntile brute force") {
    val rows = queries.Relational.customerRfm(spark, sf).collect()
    val ords = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("d"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
      .collect()
    val per = ords.groupBy(_.getAs[Long]("o_custkey")).map { case (k, xs) =>
      val last = xs.map(_.getAs[java.sql.Date]("d").toLocalDate)
        .maxBy(_.toEpochDay)
      (k, last, xs.length.toLong, xs.map(x => BigInt(x.getAs[Long]("c"))).sum)
    }.toSeq
    val anchor = per.map(_._2).maxBy(_.toEpochDay)
    val base = per.map { case (k, last, f, m) =>
      (k, java.time.temporal.ChronoUnit.DAYS.between(last, anchor), f, m) }
    def ntile(ranked: Seq[Long]): Map[Long, Long] = {
      val n = ranked.size.toLong
      val q = n / 5; val rem = n % 5
      ranked.zipWithIndex.map { case (k, i) =>
        val r = i + 1L
        val b = if (q == 0) r
          else if (r <= rem * (q + 1)) (r - 1) / (q + 1) + 1
          else rem + (r - 1 - rem * (q + 1)) / q + 1
        k -> b
      }.toMap
    }
    val rq = ntile(base.sortBy { case (k, rec, _, _) => (rec, k) }.map(_._1))
    val fq = ntile(base.sortBy { case (k, _, f, _) => (-f, k) }.map(_._1))
    val mq = ntile(base.sortBy { case (k, _, _, m) => (-m, k) }.map(_._1))
    val exp = base.groupBy { case (k, _, _, _) => (rq(k), fq(k), mq(k)) }
      .map { case (seg, xs) =>
        seg -> (xs.size.toLong, xs.map(_._4).sum, xs.map(_._2).sum) }
    assert(rows.nonEmpty && rows.length == exp.size)
    rows.foreach { r =>
      val seg = (r.getAs[Long]("r_q"), r.getAs[Long]("f_q"),
        r.getAs[Long]("m_q"))
      val (cnt, mon, recSum) = exp(seg)
      assert(r.getAs[Long]("n_customers") == cnt, s"segment $seg size")
      assert(math.abs(r.getAs[Double]("monetary") - mon.toDouble / 100) < 1e-6)
      assert(math.abs(r.getAs[Double]("avg_recency_days")
        - recSum.toDouble / cnt) < 1e-9)
    }
    // ntile invariant: each axis partitions the population to within 1
    Seq("r_q", "f_q", "m_q").foreach { axis =>
      val sizes = rows.groupBy(_.getAs[Long](axis))
        .map(_._2.map(_.getAs[Long]("n_customers")).sum)
      assert(sizes.max - sizes.min <= 1, s"$axis buckets uneven: $sizes")
    }
  }

  test("dominant_ship_suppliers: every returned supplier holds >30% of some blue part's 1997 volume") {
    val rows = queries.Relational.dominantShipSuppliers(spark, sf).collect()
    assert(rows.nonEmpty)
    val blue = Tables.part(spark, sf).filter(col("p_name").startsWith("blue"))
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("q"))
      .collect().filter(r => blue(r.getLong(0)))
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("q")))
    val partTot = li.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._3).sum }
    val domSet = li.groupBy(p => (p._1, p._2))
      .map { case ((pk, sk), xs) => (pk, sk, xs.map(_._3).sum) }
      .filter { case (pk, _, q) => q * 10 > partTot(pk) * 3 }
      .map(_._2).toSet
    assert(rows.map(_.getAs[Long]("s_suppkey")).toSet == domSet)
  }
}
