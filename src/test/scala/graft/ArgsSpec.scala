package graft

import org.scalatest.funsuite.AnyFunSuite

/** The parameterized-query channel (SparkEntry.queriesWithArgs) — the
  * engine's analog of the reference's GREP_PATTERN env argument
  * (examples/grep/mapper.py:15). Each entry must honor its argument AND
  * default to its fixed-registry twin's behavior. */
class ArgsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf
  import spark.implicits._

  test("grep honors the pattern argument (two patterns, different results)") {
    val run = SparkEntry.queriesWithArgs("grep")
    val scan = run(spark, sf, Map("pattern" -> "scan")).as[(String, Long)].collect()
    val data = run(spark, sf, Map("pattern" -> "data")).as[(String, Long)].collect()
    assert(scan.nonEmpty && data.nonEmpty)
    assert(scan.forall(_._1.toLowerCase.contains("scan")))
    assert(data.forall(_._1.toLowerCase.contains("data")))
    assert(scan.map(_._1).toSet != data.map(_._1).toSet)
  }

  test("kcore_graph honors core_k (higher bar peels more nodes)") {
    val run = SparkEntry.queriesWithArgs("kcore_graph")
    val k2 = run(spark, sf, Map("core_k" -> "2")).count()
    val k5 = run(spark, sf, Map("core_k" -> "5")).count()
    assert(k2 >= k5, s"2-core ($k2 nodes) must contain the 5-core ($k5)")
  }

  test("events_heavy_hitters honors k (smaller k raises the support bar)") {
    val run = SparkEntry.queriesWithArgs("events_heavy_hitters")
    val loose = run(spark, sf, Map("k" -> "300")).count()
    val strict = run(spark, sf, Map("k" -> "20")).count()
    assert(loose >= strict && loose > 0)
  }

  test("basket_rules honors top_n") {
    val run = SparkEntry.queriesWithArgs("basket_rules")
    assert(run(spark, sf, Map("top_n" -> "7")).count() == 7)
  }

  test("entity_resolution honors max_dist (looser threshold merges more entities)") {
    val run = SparkEntry.queriesWithArgs("entity_resolution")
    def nEntities(d: Int) =
      run(spark, sf, Map("max_dist" -> d.toString))
        .select("entity_id").distinct().count()
    val strict = nEntities(1)
    val loose = nEntities(3)
    assert(loose < strict, s"max_dist 3 ($loose entities) must merge more " +
      s"than max_dist 1 ($strict)")
  }

  test("knn_delta honors delta_mod (denser delta => more query rows)") {
    val run = SparkEntry.queriesWithArgs("knn_delta")
    val sparse = run(spark, sf, Map("delta_mod" -> "10")).select("vec_id").distinct().count()
    val dense = run(spark, sf, Map("delta_mod" -> "2")).select("vec_id").distinct().count()
    assert(dense > sparse)
  }

  test("grep with no args uses the reference default pattern 'error'") {
    // the fixture vocabulary lacks 'error', so comparing against the
    // fixture would be vacuous (empty == empty) — build a corpus where
    // the default pattern actually matches something
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_args_grep").getAbsolutePath
    Seq((1L, "disk error detected", "en", "web", 19L),
        (2L, "all systems normal", "en", "web", 18L),
        (3L, "ERROR: retry failed", "en", "web", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queriesWithArgs("grep")(spark, dir, Map.empty)
      .as[(String, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq ==
      Seq("ERROR: retry failed", "disk error detected"))
  }

  test("bigrams honors top_n") {
    val run = SparkEntry.queriesWithArgs("bigrams")
    assert(run(spark, sf, Map("top_n" -> "7")).count() == 7)
  }

  test("ann_cosine_topk honors k") {
    val run = SparkEntry.queriesWithArgs("ann_cosine_topk")
    val rows = run(spark, sf, Map("k" -> "3")).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.nonEmpty && byQ.values.forall(_.length == 3))
  }

  test("embedding_cosine_dedup honors threshold (lower threshold => superset)") {
    val run = SparkEntry.queriesWithArgs("embedding_cosine_dedup")
    def pairs(t: String) = run(spark, sf, Map("threshold" -> t))
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val strict = pairs("0.47")
    val loose = pairs("0.40")
    assert(strict.subsetOf(loose))
    assert(loose.size > strict.size, "lower threshold should admit more pairs")
  }

  test("quality_gate honors thresholds (stricter gate keeps fewer docs)") {
    val run = SparkEntry.queriesWithArgs("quality_gate")
    def kept(a: Map[String, String]) =
      run(spark, sf, a).filter("keep").count()
    val default = kept(Map.empty)
    assert(kept(Map("min_tokens" -> "40")) < default)
    assert(kept(Map("max_dup_frac" -> "1.0", "min_tokens" -> "0")) ==
      Tables.documents(spark, sf).count())
  }

  test("sequence_pack honors budget (smaller budget => more sequences)") {
    val run = SparkEntry.queriesWithArgs("sequence_pack")
    def nSeqs(b: String) = run(spark, sf, Map("budget" -> b))
      .select("shard", "seq_in_shard").distinct().count()
    assert(nSeqs("128") > nSeqs("1024"))
  }

  test("sequence_pack honors shards (more shards => more, smaller groups)") {
    val run = SparkEntry.queriesWithArgs("sequence_pack")
    def shards(a: Map[String, String]) =
      run(spark, sf, a).select("shard").distinct().count()
    assert(shards(Map("shards" -> "64")) == 64)
    assert(shards(Map.empty) == 32)   // derived floor at fixture scale
  }

  test("contamination_check honors max_df (tiny cap drops every shared fp)") {
    val run = SparkEntry.queriesWithArgs("contamination_check")
    val default = run(spark, sf, Map.empty)
      .agg(org.apache.spark.sql.functions.sum("n_shared_fps")).head().getLong(0)
    assert(default > 0)   // the fixture has genuine near-dup leakage
    // cap 0: every fingerprint has df >= 1 > 0 — all dropped, so no
    // collisions survive, but denominators (n_fps) are untouched
    val capped = run(spark, sf, Map("max_df" -> "0"))
    assert(capped.agg(org.apache.spark.sql.functions.sum("n_shared_fps"))
      .head().getLong(0) == 0)
    assert(capped.count() == run(spark, sf, Map.empty).count())
  }

  test("results_limit honors limit") {
    val run = SparkEntry.queriesWithArgs("results_limit")
    assert(run(spark, sf, Map("limit" -> "7")).count() == 7)
    val seven = run(spark, sf, Map("limit" -> "7"))
      .select("word").as[String].collect().toSeq
    assert(seven == seven.sorted, "top-N must come back in key order")
  }

  test("ann_cosine_ivf honors n_probe (full probe == brute force)") {
    val run = SparkEntry.queriesWithArgs("ann_cosine_ivf")
    // probing ALL 16 cells searches the whole corpus -> exact results
    val full = run(spark, sf, Map("n_probe" -> "16"))
      .select("qid", "rank", "vec_id").collect().map(_.toString).sorted.toSeq
    val exact = queries.Similarity.bruteForceTopK(spark, sf)
      .select("qid", "rank", "vec_id").collect().map(_.toString).sorted.toSeq
    assert(full == exact)
  }

  test("ann_cosine_ivfpq_rerank with no args is the registered query (n_probe 8)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "vec_id").collect().map(_.toString).toSeq
    val run = SparkEntry.queriesWithArgs("ann_cosine_ivfpq_rerank")
    val registered = rows(SparkEntry.queries("ann_cosine_ivfpq_rerank")(spark, sf))
    assert(rows(run(spark, sf, Map.empty)) == registered)
    assert(rows(run(spark, sf, Map("n_probe" -> "8"))) == registered)
  }

  test("mm_frame_sample honors stride") {
    val run = SparkEntry.queriesWithArgs("mm_frame_sample")
    val s4 = run(spark, sf, Map("stride" -> "4")).collect()
    s4.foreach { r =>
      val n = r.getAs[Int]("n_bytes")
      assert(r.getAs[Int]("n_frames") == (n + 3) / 4)
    }
  }

  test("doc_chunk honors budget/overlap (smaller budget => more chunks)") {
    val run = SparkEntry.queriesWithArgs("doc_chunk")
    val narrow = run(spark, sf, Map("budget" -> "16", "overlap" -> "0")).count()
    val wide = run(spark, sf, Map("budget" -> "128", "overlap" -> "0")).count()
    assert(narrow > wide)
    val dflt = run(spark, sf, Map.empty).count()
    assert(dflt == SparkEntry.queries("doc_chunk")(spark, sf).count())
  }

  test("mixture_weights honors alpha (smaller alpha => flatter weights)") {
    val run = SparkEntry.queriesWithArgs("mixture_weights")
    def spread(a: String): Double = {
      val w = run(spark, sf, Map("alpha" -> a)).collect()
        .map(_.getAs[Double]("weight"))
      w.max - w.min
    }
    // alpha -> 0 flattens toward uniform, alpha = 1 reproduces the share
    assert(spread("0.3") < spread("1.0"))
  }

  test("group_sample honors k") {
    val run = SparkEntry.queriesWithArgs("group_sample")
    val k1 = run(spark, sf, Map("k" -> "1"))
    val k5 = run(spark, sf, Map("k" -> "5"))
    assert(k1.groupBy("lang", "source").count().collect()
      .forall(_.getAs[Long]("count") == 1))
    assert(k5.count() > k1.count())
  }

  test("quality_percentile_gate honors drop_pct") {
    val run = SparkEntry.queriesWithArgs("quality_percentile_gate")
    def kept(p: String): Long =
      run(spark, sf, Map("drop_pct" -> p))
        .filter(org.apache.spark.sql.functions.col("keep")).count()
    val all = run(spark, sf, Map("drop_pct" -> "0.0")).count()
    assert(kept("0.0") == all)        // drop nothing
    assert(kept("0.5") < kept("0.25"))  // deeper cut keeps fewer
    intercept[IllegalArgumentException] {
      queries.TextAnalysis.qualityPercentileGate(spark, sf, 1.0)
    }
  }

  test("token_histogram honors bin_tokens; rolling window honors window_hours; affinity honors top_n") {
    val hist = SparkEntry.queriesWithArgs("token_histogram")
    // finer bins -> at least as many (source, bin) rows
    val coarse = hist(spark, sf, Map("bin_tokens" -> "128")).count()
    val fine = hist(spark, sf, Map("bin_tokens" -> "16")).count()
    assert(fine >= coarse)
    val roll = SparkEntry.queriesWithArgs("events_rolling_24h")
    val w1 = roll(spark, sf, Map("window_hours" -> "1"))
      .agg(org.apache.spark.sql.functions.sum("n_24h")).head().getLong(0)
    val w48 = roll(spark, sf, Map("window_hours" -> "48"))
      .agg(org.apache.spark.sql.functions.sum("n_24h")).head().getLong(0)
    assert(w48 > w1)  // wider window strictly sees more activity
    val aff = SparkEntry.queriesWithArgs("part_affinity")
    assert(aff(spark, sf, Map("top_n" -> "10")).count() == 10)
  }

  test("late-shipment lag and attribution window honor their args monotonically") {
    val late = SparkEntry.queriesWithArgs("late_order_priority")
    def lateTotal(lag: String) =
      late(spark, sf, Map("lag_days" -> lag)).collect()
        .map(_.getAs[Long]("n_late_orders")).sum
    // a stricter lateness bar (longer lag) can only shrink the late set
    assert(lateTotal("30") >= lateTotal("90"))
    assert(lateTotal("90") >= lateTotal("365"))
    val mta = SparkEntry.queriesWithArgs("multi_touch_attribution")
    def touched(days: String) =
      mta(spark, sf, Map("window_days" -> days)).collect()
        .map(_.getAs[Long]("n_purchases")).sum
    // a wider window can only add (purchase, click) pairs
    assert(touched("1") <= touched("7"))
    assert(touched("7") <= touched("30"))
    // defaults equal the fixed registry
    assert(mta(spark, sf, Map.empty).collect().map(_.toString).toSeq ==
      SparkEntry.queries("multi_touch_attribution")(spark, sf)
        .collect().map(_.toString).toSeq)
  }

  test("every args entry has a fixed-registry twin") {
    SparkEntry.queriesWithArgs.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"$k missing from fixed registry")
    }
  }

  test("templated oracles: registered defaults reproduce oracleSql byte-for-byte") {
    // grep's fixed-registry twin pins "(error|scan)" (non-vacuous on this
    // corpus) while its no-args default stays reference-parity "error"
    val registeredArgs = Map("grep" -> Map("pattern" -> "(error|scan)"))
    SparkEntry.oracleSqlWithArgs.foreach { case (name, fn) =>
      assert(SparkEntry.queriesWithArgs.contains(name),
        s"$name templated but not parameterized")
      assert(SparkEntry.oracleSql.contains(name),
        s"$name templated but has no registered oracle")
      val args = registeredArgs.getOrElse(name, Map.empty[String, String])
      assert(fn(args) == SparkEntry.oracleSql(name),
        s"$name: template at the registered argument values no longer " +
          "matches the registered oracle — the two desynchronized")
    }
  }

  test("templated oracles interpolate the argument (and escape quotes)") {
    val o = SparkEntry.oracleSqlWithArgs
    assert(o("grep")(Map("pattern" -> "zxqj")).contains("zxqj"))
    assert(o("grep")(Map("pattern" -> "it's")).contains("it''s"))
    assert(o("events_rolling_24h")(Map("window_hours" -> "6"))
      .contains("INTERVAL 6 HOURS"))
    assert(o("late_order_priority")(Map("lag_days" -> "30"))
      .contains("INTERVAL 30 DAY"))
    assert(o("kcore_graph")(Map("peels" -> "3")).contains("ke3 AS MATERIALIZED"))
    assert(!o("kcore_graph")(Map("peels" -> "3")).contains("ke4"))
  }

  test("ann_cosine_ivfpq_batch honors n_queries (each query gets its top-5)") {
    val run = SparkEntry.queriesWithArgs("ann_cosine_ivfpq_batch")
    val r = run(spark, sf, Map("n_queries" -> "20"))
    assert(r.count() == 100)  // 20 queries x top-5
    assert(r.select("qid").distinct().count() == 20)
  }

  test("multi_touch_attribution is salt-invariant (range-split changes tasks, not results)") {
    val mta = SparkEntry.queriesWithArgs("multi_touch_attribution")
    val s1 = mta(spark, sf, Map("salt_bins" -> "1")).collect().map(_.toString).toSeq
    val s16 = mta(spark, sf, Map("salt_bins" -> "16")).collect().map(_.toString).toSeq
    assert(s1 == s16, "salt count must not affect the attribution ledger")
  }

  test("multi_touch_attribution clicks_cap: bounded mode semantics") {
    val mta = SparkEntry.queriesWithArgs("multi_touch_attribution")
    // a cap no purchase reaches is the identity (uncapped ledger)
    val unc = mta(spark, sf, Map.empty).collect().map(_.toString).toSeq
    val big = mta(spark, sf, Map("clicks_cap" -> "1000000"))
      .collect().map(_.toString).toSeq
    assert(big == unc, "an unreached cap must be the identity")
    // touches are monotone in the cap (each purchase keeps a prefix of
    // its most-recent-click list)
    def touches(cap: String) =
      mta(spark, sf, Map("clicks_cap" -> cap)).collect()
        .map(_.getAs[Long]("n_purchases")).sum
    assert(touches("1") <= touches("3"))
    assert(touches("3") <= touches("1000000"))
    // cap=1: every attributed purchase pays its single most recent click
    // exactly 1.0 credit, so total credit == total touches
    val c1 = mta(spark, sf, Map("clicks_cap" -> "1")).collect()
    val totTouch = c1.map(_.getAs[Long]("n_purchases")).sum
    val totCredit = c1.map(_.getAs[Double]("credit")).sum
    assert(math.abs(totCredit - totTouch.toDouble) < 1e-6,
      s"cap=1 credit $totCredit != touches $totTouch")
  }

  test("string args interpolated into oracle SQL are charset-gated") {
    // part_name_profit's oracle uses LIKE while Spark uses contains():
    // LIKE metacharacters and quotes must be REJECTED, not silently
    // diverge the two engines (ADVICE r11).
    val pnp = SparkEntry.queriesWithArgs("part_name_profit")
    intercept[IllegalArgumentException] {
      pnp(spark, sf, Map("pattern" -> "50%"))
    }
    intercept[IllegalArgumentException] {
      pnp(spark, sf, Map("pattern" -> "a_b"))
    }
    intercept[IllegalArgumentException] {
      pnp(spark, sf, Map("pattern" -> "o'brien"))
    }
    intercept[IllegalArgumentException] {
      queries.Relational.partNameProfitSqlFor("50%")
    }
    // market_share compares by equality — underscore is legal there
    // (the default nation IS 'NATION_5') but quotes/backslashes break
    // the oracle literal and must be rejected on BOTH sides.
    val ms = SparkEntry.queriesWithArgs("market_share")
    assert(ms(spark, sf, Map("nation" -> "NATION_5")).columns.nonEmpty)
    intercept[IllegalArgumentException] {
      ms(spark, sf, Map("nation" -> "x' OR '1'='1"))
    }
    intercept[IllegalArgumentException] {
      queries.Relational.marketShareSqlFor("a\\b", "AMERICA", "PROMO")
    }
    // a legal non-default pattern still round-trips
    assert(pnp(spark, sf, Map("pattern" -> "nut")).columns.contains("nation"))
  }
}
