package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior bounds for the round-3 pipeline additions: chunking coverage,
  * quantization error bounds, transition-count identities, and the
  * bucketed join's shuffle elision (the oracle gate proves values; these
  * prove the properties the oracle can't see). */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf
  import spark.implicits._

  test("doc_chunk: every token covered, overlap honored, last chunk short only") {
    val budget = 64; val overlap = 16; val stride = budget - overlap
    val chunks = queries.TextAnalysis.docChunk(spark, sf, budget, overlap)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    val nToks = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(filter(split(lower(col("text")), "\\W+"), t => length(t) > 0)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every doc with >=1 token chunks; chunk math covers [0, n) exactly
    nToks.filter(_._2 > 0).foreach { case (id, n) =>
      val cs = chunks(id).sortBy(_.getAs[Int]("chunk_id"))
      // starts advance by exactly stride from 0
      cs.zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Int]("chunk_id") == i)
        assert(c.getAs[Int]("start") == i * stride)
        val len = c.getAs[Int]("n_chunk_tokens")
        assert(len > 0 && len <= budget)
        // only the final chunk may be short
        if (i < cs.length - 1) assert(len == budget)
      }
      // union of [start, start+len) reaches n exactly
      val last = cs.last
      assert(last.getAs[Int]("start") + last.getAs[Int]("n_chunk_tokens") == n)
      // consecutive chunks overlap: next start falls inside previous chunk
      cs.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Int]("start") ==
            a.getAs[Int]("start") + a.getAs[Int]("n_chunk_tokens") - overlap ||
            a.getAs[Int]("n_chunk_tokens") < budget)
        case _ =>
      }
    }
    // no chunk rows for zero-token docs, no doc unchunked
    assert(chunks.keySet == nToks.filter(_._2 > 0).keySet)
  }

  test("doc_chunk: args change the window geometry") {
    val wide = queries.TextAnalysis.docChunk(spark, sf, 128, 0).collect()
    wide.foreach(r => assert(r.getAs[Int]("n_chunk_tokens") <= 128))
    // zero overlap -> starts are multiples of the full budget
    wide.foreach(r => assert(r.getAs[Int]("start") % 128 == 0))
    intercept[IllegalArgumentException] {
      queries.TextAnalysis.docChunk(spark, sf, 16, 16)
    }
  }

  test("embedding_quantize: q in [-127,127], dequant error <= scale/254 + ulp") {
    val rows = queries.Similarity.embeddingQuantize(spark, sf).collect()
    assert(rows.length > 0)
    val dim = 64
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      assert(scale > 0)
      // |sum_q| <= dim * 127
      assert(math.abs(r.getAs[Long]("sum_q")) <= dim * 127L)
      assert(r.getAs[Int]("n_sat") >= 1)  // the max element always saturates
      // worst-case symmetric-quantization error is half a step = scale/254
      assert(r.getAs[Double]("max_err") <= scale / 254 + 1e-6)
    }
  }

  test("event_transitions: counts telescope to n_events - n_active_users") {
    val rows = queries.Temporal.eventTransitions(spark, sf).collect()
    val totalTransitions = rows.map(_.getAs[Long]("n")).sum
    val events = Tables.events(spark, sf)
    val nEvents = events.count()
    val nUsers = events.select("user_id").distinct().count()
    assert(totalTransitions == nEvents - nUsers)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_users") <= r.getAs[Long]("n"))
      assert(r.getAs[Long]("n_users") >= 1)
    }
  }

  test("dedup_canonical: one survivor per cluster, and it is the quality argmax") {
    val rows = queries.Dedup.dedupCanonical(spark, sf).collect()
    val clusters = rows.groupBy(_.getAs[Long]("cluster_id"))
    assert(clusters.nonEmpty)
    clusters.foreach { case (cid, ms) =>
      assert(ms.length == ms.head.getAs[Long]("n_members"))
      val keepers = ms.filter(_.getAs[Boolean]("keep"))
      assert(keepers.length == 1, s"cluster $cid: ${keepers.length} keepers")
      val best = keepers.head
      // argmax by (quality desc, doc_id asc)
      val top = ms.minBy(r =>
        (-r.getAs[Double]("quality_score"), r.getAs[Long]("doc_id")))
      assert(best.getAs[Long]("doc_id") == top.getAs[Long]("doc_id"))
      assert(ms.forall(_.getAs[Long]("best_id") == best.getAs[Long]("doc_id")))
      // cluster label is the min member id (dedupClusters' labeling)
      assert(cid == ms.map(_.getAs[Long]("doc_id")).min)
    }
    // same membership as dedup_clusters
    val lab = queries.Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    assert(rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap == lab)
  }

  test("doc_surprisal: token totals telescope and bounds hold") {
    val rows = queries.TextAnalysis.docSurprisal(spark, sf).collect()
    val corpusTokens = Tables.documents(spark, sf)
      .select(explode(filter(split(lower(col("text")), "\\W+"),
        t => length(t) > 0)).as("tok"))
    val total = corpusTokens.count()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == total)
    // every token's surprisal is in [0, ln(total)] ⇒ so is each doc's mean
    val maxNll = math.log(total.toDouble)
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_nll")
      assert(avg >= 0 && avg <= maxNll + 1e-6)
      assert(r.getAs[Long]("nll_micros") >= 0)
    }
    // rarer tokens ⇒ higher surprisal: doc of only frequent words scores
    // below the corpus-mean surprisal of a doc of only rare words
    val freq = corpusTokens.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = rows.map { r =>
      r.getAs[Long]("nll_micros").toDouble / 1e6 / r.getAs[Long]("n_tokens")
    }
    assert(expected.max > expected.min || freq.values.toSet.size == 1)
  }

  test("ann_cosine_topk_q8: int8 ranking preserves the float baseline's top-5") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(queries.Similarity.bruteForceTopK(spark, sf))
    val q8 = pairs(queries.Similarity.quantizedTopK(spark, sf))
    assert(exact.nonEmpty)
    val recall = q8.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 recall@5 = $recall")
  }

  test("mixture_weights: weights normalize, and boost inverts the share order") {
    val rows = queries.TextAnalysis.mixtureWeights(spark, sf).collect()
    assert(rows.length > 1)
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-3, s"weights sum to $wsum")
    // alpha < 1 flattens: smaller share => larger boost (strictly, modulo
    // the 1e-6 integerisation)
    val byShare = rows.sortBy(_.getAs[Double]("share"))
    byShare.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Double]("boost") >= hi.getAs[Double]("boost") - 1e-4)
      case _ =>
    }
    // alpha = 1 is the identity mix: weight == share within rounding
    val id = queries.TextAnalysis.mixtureWeights(spark, sf, alpha = 1.0).collect()
    id.foreach { r =>
      assert(math.abs(r.getAs[Double]("weight") - r.getAs[Double]("share")) < 1e-4)
      assert(math.abs(r.getAs[Double]("boost") - 1.0) < 1e-4)
    }
  }

  test("group_sample: exactly min(k, |cell|) rows per cell; k=1 is a prefix of k=3") {
    val rows = queries.Temporal.groupSample(spark, sf).collect()
    val cells = Tables.documents(spark, sf).groupBy("lang", "source").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val byCell = rows.groupBy(r => (r.getString(0), r.getString(1)))
    assert(byCell.keySet == cells.keySet)
    byCell.foreach { case (cell, ms) =>
      assert(ms.length == math.min(3L, cells(cell)))
      assert(ms.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to ms.length))
    }
    // the hash order is fixed, so the k=1 draw is the rk=1 slice of k=3
    val k1 = queries.Temporal.groupSample(spark, sf, k = 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("doc_id"))).toSet
    val rk1 = rows.filter(_.getAs[Int]("rk") == 1)
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("doc_id"))).toSet
    assert(k1 == rk1)
  }

  test("dedup_stats: metrics telescope against their source queries") {
    val m = queries.Dedup.dedupStats(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet == Set("n_docs", "exact_dup_docs", "exact_removable",
      "near_dup_docs", "near_dup_clusters", "near_dup_removable"))
    assert(m("near_dup_removable") == m("near_dup_docs") - m("near_dup_clusters"))
    assert(m("exact_removable") <= m("exact_dup_docs"))
    assert(m("n_docs") >= m("near_dup_docs"))
    val clusters = queries.Dedup.dedupClusters(spark, sf).count()
    assert(m("near_dup_docs") == clusters)
  }

  test("dedup_canonical/stats compose over the materialized clusters parquet") {
    // materialized frame == standalone query (the oracle anchor)
    val live = queries.Dedup.dedupClusters(spark, sf).collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val mat = queries.Dedup.dedupClustersMaterialized(spark, sf).collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(live.sameElements(mat))
    // the composed plan consumes the label parquet, NOT a re-run of the
    // simhash + CC pipeline: the clusters sink appears as a scan, and
    // exactly ONE documents.parquet scan (the quality side) remains
    val plan = queries.Dedup.dedupCanonical(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_clusters_"), "clusters parquet not scanned")
    assert("documents\\.parquet".r.findAllIn(plan).length == 1,
      "canonical should scan documents once (quality side only)")
  }

  test("winnow_overlap: bounds hold and the denominator matches doc_fingerprint") {
    val rows = queries.TextAnalysis.winnowOverlap(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val nfp = queries.TextAnalysis.docFingerprint(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_fingerprints")).toMap
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(a < b)
      val shared = r.getAs[Long]("n_shared")
      assert(shared >= 3)
      // per-doc totals are the UNcapped fingerprint counts — same number
      // doc_fingerprint reports
      assert(r.getAs[Long]("n_a") == nfp(a))
      assert(r.getAs[Long]("n_b") == nfp(b))
      assert(shared <= math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
      val c = r.getAs[Double]("containment")
      assert(c > 0 && c <= 1.0)
    }
    // ranked by containment (rounded view may tie; raw ordering refines it)
    val cs = rows.map(_.getAs[Double]("containment"))
    assert(cs.zip(cs.tail).forall { case (x, y) => x + 1e-9 >= y })
  }

  test("token_pmi: lift recomputes from the emitted counts and global total") {
    import org.apache.spark.sql.functions._
    val rows = queries.TextAnalysis.tokenPmi(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    // recompute the pair-slot total the same way the query does
    val docs = Tables.documents(spark, sf).select(col("text")).collect()
    var nTotal = 0L
    docs.foreach { r =>
      val n = r.getString(0).toLowerCase(java.util.Locale.ROOT)
        .split("\\W+").count(_.nonEmpty)
      var i = 0
      while (i < n) { nTotal += math.min(4, n - 1 - i); i += 1 }
    }
    rows.foreach { r =>
      assert(r.getAs[String]("tok_a") <= r.getAs[String]("tok_b"))
      assert(r.getAs[Long]("n_pair") >= 50)
      val expect = math.floor(
        r.getAs[Long]("n_pair").toDouble * nTotal /
          (r.getAs[Long]("n_a").toDouble * r.getAs[Long]("n_b")) * 1e6 + 0.5) / 1e6
      assert(math.abs(r.getAs[Double]("lift") - expect) < 1e-9,
        s"lift mismatch for ${r.getAs[String]("tok_a")}/${r.getAs[String]("tok_b")}")
    }
  }

  test("vocab_growth: telescopes to corpus totals, cumulative is monotone") {
    import org.apache.spark.sql.functions._
    val rows = queries.TextAnalysis.vocabGrowth(spark, sf).collect()
      .sortBy(_.getAs[Int]("bucket"))
    val tk = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), "\\W+")).as("tok"))
      .filter(length(col("tok")) > 0)
    assert(rows.map(_.getAs[Long]("n_occurrences")).sum == tk.count())
    assert(rows.map(_.getAs[Long]("n_new_types")).sum ==
      tk.distinct().count())
    assert(rows.last.getAs[Long]("n_types_cum") == tk.distinct().count())
    val cum = rows.map(_.getAs[Long]("n_types_cum"))
    assert(cum.zip(cum.tail).forall { case (a, b) => a <= b })
    rows.foreach { r =>
      val nr = r.getAs[Double]("novelty_rate")
      assert(nr >= 0 && nr <= 1)
      assert(r.getAs[Int]("bucket") >= 0 && r.getAs[Int]("bucket") < 10)
    }
  }

  test("bpe_pair_counts: counts match an in-memory recount of adjacent pairs") {
    import org.apache.spark.sql.functions._
    val rows = queries.TextAnalysis.bpePairCounts(spark, sf).collect()
    assert(rows.length == 50)
    // recount the full pair distribution from the raw corpus
    val expect = scala.collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, sf).select(col("text")).collect().foreach { r =>
      r.getString(0).toLowerCase(java.util.Locale.ROOT)
        .split("\\W+").filter(t => t.length >= 2).foreach { t =>
          var i = 0
          while (i < t.length - 1) {
            val p = t.substring(i, i + 2)
            expect(p) = expect.getOrElse(p, 0L) + 1; i += 1
          }
        }
    }
    rows.foreach { r =>
      val p = r.getAs[String]("pair")
      assert(p.length == 2)
      assert(r.getAs[Long]("n_occurrences") == expect(p), s"pair $p")
    }
    val cs = rows.map(_.getAs[Long]("n_occurrences"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    // the emitted 50 are the true top 50 (boundary count honored)
    val cut = cs.last
    assert(expect.values.count(_ > cut) < 50)
  }

  test("key_skew_report: shares and ratios recompute from the key histogram") {
    import org.apache.spark.sql.functions._
    val rows = queries.Relational.keySkewReport(spark, sf).collect()
    assert(rows.length == 20)
    val hist = Tables.lineitem(spark, sf).groupBy("l_partkey").count()
      .collect().map(r => r.getAs[Long]("l_partkey") -> r.getAs[Long]("count")).toMap
    val total = hist.values.sum.toDouble
    val nKeys = hist.size.toDouble
    rows.foreach { r =>
      val k = r.getAs[Long]("l_partkey"); val c = r.getAs[Long]("cnt")
      assert(hist(k) == c)
      assert(math.abs(r.getAs[Double]("share") -
        math.floor(c / total * 1e6 + 0.5) / 1e6) < 1e-12)
      assert(math.abs(r.getAs[Double]("skew_ratio") -
        math.floor(c * nKeys / total * 1e4 + 0.5) / 1e4) < 1e-12)
    }
    val cs = rows.map(_.getAs[Long]("cnt"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    assert(cs.head == hist.values.max)
  }

  test("user_retention: day-0 is the full cohort, later cells only shrink vs it") {
    val rows = queries.Temporal.userRetention(spark, sf).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[java.sql.Date]("cohort_day"))
    byCohort.foreach { case (day, ms) =>
      val d0 = ms.filter(_.getAs[Int]("days_since") == 0)
      assert(d0.length == 1, s"cohort $day missing its day-0 row")
      // the cohort's defining day: everyone is active
      assert(d0.head.getAs[Long]("n_active") == d0.head.getAs[Long]("cohort_size"))
      assert(d0.head.getAs[Double]("retention") == 1.0)
      ms.foreach { r =>
        assert(r.getAs[Int]("days_since") >= 0)
        assert(r.getAs[Long]("n_active") <= r.getAs[Long]("cohort_size"))
      }
    }
    // cohorts partition the user base
    val totalUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    val cohortSum = byCohort.values
      .map(_.head.getAs[Long]("cohort_size")).sum
    assert(cohortSum == totalUsers)
  }

  test("token_histogram: bins partition each source and shares sum to 1") {
    val rows = queries.TextAnalysis.tokenHistogram(spark, sf).collect()
    assert(rows.nonEmpty)
    val docsPerSource = Tables.documents(spark, sf).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(0)).foreach { case (src, ms) =>
      assert(ms.map(_.getAs[Long]("n_docs")).sum == docsPerSource(src))
      assert(math.abs(ms.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
      ms.foreach { r =>
        assert(r.getAs[Int]("min_tokens") >= r.getAs[Long]("lo_tokens"))
        assert(r.getAs[Int]("max_tokens") <= r.getAs[Long]("hi_tokens"))
        assert(r.getAs[Int]("min_tokens") <= r.getAs[Int]("max_tokens"))
      }
    }
  }

  test("source_divergence: KL is non-negative (mod nano rounding) and totals telescope") {
    val rows = queries.TextAnalysis.sourceDivergence(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // per-term integerisation rounds by <=0.5 nano; Gibbs' inequality
      // guarantees the true KL >= 0
      assert(r.getAs[Double]("kl") >= -1e-6 * r.getAs[Long]("n_terms"),
        s"${r.getString(0)}: kl=${r.getAs[Double]("kl")}")
    }
    val corpusTokens = Tables.documents(spark, sf)
      .select(explode(filter(split(lower(col("text")), "\\W+"),
        t => length(t) > 0)).as("t")).count()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == corpusTokens)
    // a source's vocab can't exceed the corpus vocab
    val vocab = Tables.documents(spark, sf)
      .select(explode(filter(split(lower(col("text")), "\\W+"),
        t => length(t) > 0)).as("t")).distinct().count()
    rows.foreach(r => assert(r.getAs[Long]("n_terms") <= vocab))
  }

  test("session_paths: paths are valid type sequences bounded by the session count") {
    val rows = queries.Temporal.sessionPaths(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 25)
    val types = Tables.events(spark, sf)
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    rows.foreach { r =>
      val steps = r.getString(0).split("->")
      assert(steps.nonEmpty && steps.length <= 3)
      steps.foreach(t => assert(types.contains(t), s"bad step $t"))
    }
    // counts are presented in non-increasing order and can't exceed the
    // total session count from the sessions query
    val counts = rows.map(_.getAs[Long]("n_sessions"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    val totalSessions = graft.streaming.StreamingJobs
      .sessions4h(Tables.eventsTs(spark, sf)).count()
    assert(counts.sum <= totalSessions)
  }

  test("events_zscore: per-user standardization has zero mean and unit variance") {
    val rows = queries.Temporal.eventsZscore(spark, sf).collect()
    assert(rows.length == Tables.events(spark, sf).count())
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (uid, ms) =>
      val zs = ms.filter(!_.isNullAt(ms.head.fieldIndex("z")))
        .map(_.getAs[Double]("z"))
      if (zs.nonEmpty) {
        // 4dp rounding on each z bounds the drift of the moments
        assert(math.abs(zs.sum / zs.length) < 1e-3, s"user $uid mean")
        val v = zs.map(z => z * z).sum / zs.length
        assert(math.abs(v - 1.0) < 1e-2, s"user $uid var $v")
      } else {
        // z is null only when the user's values are constant
        assert(ms.map(_.getAs[Double]("value")).distinct.length == 1, s"user $uid")
      }
    }
  }

  test("events_cms_topk: sketch never underestimates, exact where uncollided") {
    val rows = queries.Temporal.eventsCmsTopk(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // exact counts descend with the documented tie-break
    val ex = rows.map(r => (r.getAs[Long]("n_exact"), r.getAs[Long]("user_id")))
    assert(ex.zip(ex.tail).forall { case ((a, au), (b, bu)) =>
      a > b || (a == b && au < bu) })
    rows.foreach { r =>
      // the CMS one-sided guarantee: est(k) ≥ exact(k), overcount = diff
      assert(r.getAs[Long]("n_est") >= r.getAs[Long]("n_exact"))
      assert(r.getAs[Long]("overcount") ==
        r.getAs[Long]("n_est") - r.getAs[Long]("n_exact"))
    }
    // d=4 × w=1024 over the fixture's ~1k users: at least one hot key
    // should see zero collisions in its min row (sanity that the sketch
    // is not degenerate at this size)
    assert(rows.exists(_.getAs[Long]("overcount") == 0L))
  }

  test("events_value_quantiles: monotone estimates within one bin of exact") {
    import org.apache.spark.sql.functions.col
    val rows = queries.Temporal.eventsValueQuantiles(spark, sf).collect()
      .sortBy(_.getAs[Double]("p"))
    assert(rows.map(_.getAs[Double]("p")).toSeq == Seq(0.5, 0.9, 0.99))
    val ests = rows.map(_.getAs[Double]("est"))
    assert(ests.zip(ests.tail).forall { case (a, b) => a <= b }, "not monotone")
    // exact percentiles by full sort (affordable at spec scale): the
    // sketch error bound is one equi-width bin of the value range
    val vals = Tables.events(spark, sf).select(col("value"))
      .filter(col("value").isNotNull)
      .collect().map(_.getDouble(0)).sorted
    val binW = (vals.last - vals.head) / 4096
    rows.foreach { r =>
      val p = r.getAs[Double]("p")
      val exact = vals((math.ceil(p * vals.length) - 1).toInt.max(0))
      assert(math.abs(r.getAs[Double]("est") - exact) <= binW + 1e-9,
        s"p=$p est=${r.getAs[Double]("est")} exact=$exact binW=$binW")
    }
  }

  test("lang_confusion and events_pivot_daily: rollups partition their inputs") {
    val conf = queries.TextAnalysis.langConfusion(spark, sf).collect()
    assert(conf.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf).count())
    val pivot = queries.Temporal.eventsPivotDaily(spark, sf).collect()
    val types = Seq("view", "click", "purchase", "error", "signup")
    val cells = pivot.map(r => types.map(t => r.getAs[Long](t)).sum).sum
    assert(cells == Tables.events(spark, sf).count())
    assert(pivot.map(_.getAs[java.sql.Date]("day")).distinct.length == pivot.length)
  }

  test("events_rolling_24h: matches an in-memory recompute of the range frame") {
    val rows = queries.Temporal.eventsRolling24h(spark, sf).collect()
    val events = Tables.eventsTs(spark, sf)
      .select("event_id", "user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).getTime * 1000 + (r.getTimestamp(2).getNanos / 1000) % 1000,
        Math.round(r.getDouble(3) * 100)))
    val byUser = events.groupBy(_._2)
    val dayUs = 24L * 3600 * 1000000
    val expected = events.map { case (id, uid, ts, _) =>
      val in = byUser(uid).filter(e => e._3 > ts - dayUs - 1 && e._3 <= ts)
      id -> (in.length.toLong, in.map(_._4).sum / 100.0)
    }.toMap
    assert(rows.length == events.length)
    rows.foreach { r =>
      val (n, v) = expected(r.getLong(0))
      assert(r.getAs[Long]("n_24h") == n, s"event ${r.getLong(0)}")
      assert(math.abs(r.getAs[Double]("val_24h") - v) < 1e-9)
    }
  }

  test("asof_join_orders_salted: row-identical to the single-pass merge at any salt count") {
    val base = queries.Temporal.asofJoinOrders(spark, sf).collect().toSeq
    // salts=1 degenerates to the single-pass shape; 3 exercises carry-in
    // across ranges with and without in-range orders; 8 is the registered
    // default
    Seq(1, 3, 8).foreach { s =>
      val salted = queries.Temporal.asofJoinOrdersSalted(spark, sf, s).collect().toSeq
      assert(salted == base, s"salts=$s diverged from single-pass")
    }
  }

  test("mixture_apply: kept counts track the capped per-source rates") {
    val rows = queries.TextAnalysis.mixtureApply(spark, sf).collect()
    rows.foreach { r =>
      val target = r.getAs[Double]("target_rate")
      assert(target >= 0 && target <= 1)
      val kept = r.getAs[Long]("n_kept").toDouble / r.getAs[Long]("n_docs")
      // 25 docs/source at sf0.01 -> binomial noise; bound loosely
      assert(math.abs(kept - target) < 0.35, s"${r.getString(0)}: $kept vs $target")
    }
    // a higher global rate keeps at least as many docs everywhere
    val hi = queries.TextAnalysis.mixtureApply(spark, sf, rate = 0.9).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_kept")).toMap
    rows.foreach(r => assert(hi(r.getString(0)) >= r.getAs[Long]("n_kept")))
  }

  test("pipeline_export: manifest telescopes to the gate, and the layout partition-prunes") {
    val manifest = queries.TextAnalysis.pipelineExport(spark, sf).collect()
    val kept = queries.TextAnalysis.qualityGate(spark, sf)
      .filter(col("keep")).count()
    assert(manifest.map(_.getAs[Long]("n_docs")).sum == kept)
    assert(manifest.map(_.getString(0)).sorted.toSeq == Seq("test", "train", "val"))
    // the written dataset prunes at the source when a split is selected
    val dir = new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
      .filter(_.getName.startsWith("graft_export_")).maxBy(_.lastModified).getAbsolutePath
    val train = spark.read.parquet(dir).filter(col("split") === "train")
    val planStr = train.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("split"),
      s"no partition pruning:\n${planStr.take(800)}")
    assert(train.count() ==
      manifest.find(_.getString(0) == "train").get.getAs[Long]("n_docs"))
  }

  test("part_affinity: basket shape scans the corpus once, no join at all") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec}
    val df = queries.Relational.partAffinity(spark, sf)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val scans = plan.collectLeaves()
    assert(scans.length == 1, s"expected 1 scan:\n${plan.toString.take(1200)}")
    val joins = plan.collect {
      case j: SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
      case j: ShuffledHashJoinExec => j
    }
    assert(joins.isEmpty, "pair generation should not join")
    // pair math sanity: a 4-part basket contributes C(4,2)=6 pairs
    assert(df.collect().forall(_.getAs[Long]("n_orders") >= 1))
  }

  test("dup_pair_sources: matrix cells telescope to the simhash pair count") {
    val cells = queries.Dedup.dupPairSources(spark, sf).collect()
    val nPairs = queries.Dedup.simhashDedup(spark, sf).count()
    assert(cells.map(_.getAs[Long]("n_pairs")).sum == nPairs)
    cells.foreach { r =>
      // unordered normalization: x <= y always
      assert(r.getString(0) <= r.getString(1))
      assert(r.getAs[Long]("n_pairs") > 0)
    }
  }

  test("pipeline_funnel: monotone keep-mass, stages reconcile with their queries") {
    val rows = queries.Dedup.pipelineFunnel(spark, sf).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[Int]("stage_id")).toSeq == Seq(0, 1, 2, 3))
    val docsSeq = rows.map(_.getAs[Long]("n_docs")).toSeq
    val tokSeq = rows.map(_.getAs[Long]("n_tokens")).toSeq
    // every stage can only shed mass
    assert(docsSeq.zip(docsSeq.tail).forall { case (a, b) => a >= b })
    assert(tokSeq.zip(tokSeq.tail).forall { case (a, b) => a >= b })
    // stage 0 = corpus totals; stage 1 = the gate's keep count
    assert(docsSeq.head == Tables.documents(spark, sf).count())
    assert(docsSeq(1) ==
      queries.TextAnalysis.qualityGate(spark, sf).filter("keep").count())
  }

  test("quality_percentile_gate: per-source drop is bounded and order-consistent") {
    val rows = queries.TextAnalysis.qualityPercentileGate(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(rows.length == total)  // a gate flags, it never loses rows
    rows.groupBy(_.getString(1)).foreach { case (src, ms) =>
      val n = ms.length
      val dropped = ms.filter(!_.getAs[Boolean]("keep"))
      // percent_rank < p strictly bounds the dropped count; ties only shrink it
      assert(dropped.length <= 0.25 * n + 1, s"$src dropped ${dropped.length}/$n")
      assert(dropped.length < n, s"$src dropped everything")
      // no kept doc scores below a dropped doc
      if (dropped.nonEmpty) {
        val worstKept = ms.filter(_.getAs[Boolean]("keep"))
          .map(_.getAs[Double]("quality_score")).min
        val bestDropped = dropped.map(_.getAs[Double]("quality_score")).max
        assert(worstKept >= bestDropped, s"$src: kept $worstKept < dropped $bestDropped")
      }
    }
  }

  test("bucketed_join_orders: join runs without an Exchange when SMJ is forced") {
    // construct once (writes the bucketed tables), then re-derive the join
    // from the catalog tables the query just wrote
    queries_bucketedPlanCheck()
  }

  private def queries_bucketedPlanCheck(): Unit = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = operators.BucketedJoin.bucketedJoinOrders(spark, sf)
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.isDefined, s"expected SMJ:\n${plan.toString.take(2000)}")
      // the downstream groupBy(o_orderstatus) shuffles by design; the claim
      // is that NEITHER join input does — bucketed scans satisfy the SMJ's
      // required distribution directly
      val joinShuffles = smj.get.collect { case e: Exchange => e }
      assert(joinShuffles.isEmpty,
        s"bucketed join inputs still shuffle:\n${smj.get.toString.take(2000)}")
      assert(df.collect().length == 3)  // O/F/P orderstatus
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("events_gap_fill: contiguous hourly grid, observed hours carry raw values") {
    val rows = queries.Temporal.eventsGapFill(spark, sf).collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    val raw = Tables.eventsTs(spark, sf)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .groupBy("user_id")
      .agg(min("hour").as("h0"), max("hour").as("h1"),
        countDistinct("hour").as("nObs"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getTimestamp(1), r.getTimestamp(2), r.getAs[Long]("nObs"))).toMap
    assert(byUser.keySet == raw.keySet)
    byUser.foreach { case (u, rs) =>
      val (h0, h1, nObs) = raw(u)
      val hours = rs.map(_.getTimestamp(1).getTime).sorted
      // exactly one row per hour in [h0, h1], stepping 3600s
      assert(hours.head == h0.getTime && hours.last == h1.getTime)
      assert(hours.zip(hours.tail).forall { case (a, b) => b - a == 3600000L },
        s"user $u grid has gaps or duplicates")
      // observed flags match the distinct raw hours; first hour observed
      assert(rs.count(_.getAs[Boolean]("observed")) == nObs)
      val first = rs.minBy(_.getTimestamp(1).getTime)
      assert(first.getAs[Boolean]("observed"))
      // forward fill: after the first hour, filled_value is never null
      assert(rs.forall(r => !r.isNullAt(r.fieldIndex("filled_value"))))
    }
  }

  test("range_join_bursts: binned equi-join == unbinned theta join") {
    import spark.implicits._
    val got = queries.Temporal.rangeJoinBursts(spark, sf)
      .as[(Long, Long, Double)].collect().toMap2
    // naive theta join, computed independently (BNLJ is fine at spec scale)
    val ev = Tables.eventsTs(spark, sf)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value")).collect()
    val win = 30L * 60 * 1000000
    val purchases = ev.filter(_.getString(1) == "purchase")
      .map(r => (r.getLong(2), math.round(r.getDouble(3) * 100)))
    val naive = ev.filter(_.getString(1) == "error").map { e =>
      val t0 = e.getLong(2)
      val in = purchases.filter(p => p._1 >= t0 && p._1 < t0 + win)
      e.getLong(0) -> ((in.length.toLong, in.map(_._2).sum.toDouble / 100))
    }.toMap
    assert(got.keySet == naive.keySet)
    naive.foreach { case (id, (n, v)) =>
      assert(got(id)._1 == n, s"burst $id count")
      assert(math.abs(got(id)._2 - v) < 1e-9, s"burst $id sum")
    }
    assert(naive.values.exists(_._1 > 0), "fixture should have non-empty bursts")
    assert(naive.values.exists(_._1 == 0), "fixture should have empty bursts")
  }

  test("interval_union: matches an in-memory sweep merge; bounds hold") {
    val got = queries.Temporal.intervalUnion(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_islands"), r.getAs[Long]("active_us"))).toMap
    val win = 30L * 60 * 1000000
    val byUser = Tables.eventsTs(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("t0")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    assert(got.keySet == byUser.keySet)
    byUser.foreach { case (u, ts) =>
      val sorted = ts.map(_._2).sorted
      var islands = 0L; var active = 0L
      var curS = -1L; var curE = -1L
      sorted.foreach { t =>
        if (curE < 0 || t > curE) {
          if (curE >= 0) active += curE - curS
          islands += 1; curS = t; curE = t + win
        } else curE = math.max(curE, t + win)
      }
      if (curE >= 0) active += curE - curS
      assert(got(u) == ((islands, active)), s"user $u")
      // bounds: merged time never exceeds the naive sum, never undercuts
      // one window, and islands <= events
      assert(active <= sorted.length * win && active >= win)
      assert(islands <= sorted.length)
    }
  }

  test("weighted_sample_pps: exactly K tickets, PPS inclusion recomputes") {
    val rows = queries.Curation.weightedSamplePps(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("times_picked")).sum == 50L)
    assert(rows.forall(_.getAs[Long]("n_chars")  > 0))
    // recompute the systematic sweep from scratch: md5-permuted order,
    // integer cumsum, ticket crossings
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("skey"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 3), 16, 10)
          .cast("int").as("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(d => (d._4, d._3, d._1))
    val total = docs.map(_._2).sum
    var cum = 0L
    val expect = docs.flatMap { case (id, w, _, _) =>
      val before = cum; cum += w
      val picks = (cum * 50) / total - (before * 50) / total
      if (picks >= 1) Some(id -> picks) else None
    }.toMap
    assert(rows.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("times_picked")).toMap == expect)
  }

  test("skyline_parts: matches the O(n^2) dominance recompute") {
    val got = queries.Relational.skylineParts(spark, sf).collect()
      .map(_.getAs[Long]("p_partkey")).toSet
    val all = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_size"),
        round(col("p_retailprice") * 100).cast("long").as("c")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val expect = all.filter { r =>
      !all.exists(q => q._3 <= r._3 && q._2 >= r._2 &&
        (q._3 < r._3 || q._2 > r._2))
    }.map(_._1).toSet
    assert(got == expect)
    assert(got.nonEmpty && got.size < all.length)
  }

  test("bloom_semi_join: bloom stage prunes without changing the result") {
    val rows = queries.Relational.bloomSemiJoin(spark, sf).collect()
    // equality with a plain Spark semi join (the oracle twin in-engine)
    val dim = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val li = Tables.lineitem(spark, sf)
    val plain = li
      .join(dim, li("l_orderkey") === dim("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r.getString(0) -> r.getAs[Long]("n_rows")).toMap == plain)
    assert(rows.map(_.getAs[Long]("n_rows")).sum <
      Tables.lineitem(spark, sf).count())  // selective: something was pruned
  }

  test("fuzzy_join_parts: band blocking is lossless vs the unblocked join") {
    import spark.implicits._
    val got = queries.Relational.fuzzyJoinParts(spark, sf)
      .select("a_key", "b_key", "dist").as[(Long, Long, Int)].collect().toSet
    // unblocked within-brand join recomputed independently
    val parts = Tables.part(spark, sf)
      .select("p_partkey", "p_brand", "p_name").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .groupBy(_._2)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val naive = parts.values.flatMap { ps =>
      ps.toSeq.flatMap { a =>
        ps.toSeq.filter(b => a._1 < b._1)
          .map(b => (a._1, b._1, lev(a._3, b._3)))
          .filter(_._3 <= 2)
      }
    }.toSet
    assert(got == naive)
    assert(got.nonEmpty && got.forall(_._3 <= 2))
  }

  test("cohort_ltv: cum_revenue telescopes, totals match raw purchases") {
    val rows = queries.Temporal.cohortLtv(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getDate(0)).foreach { case (cd, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("age"))
      // cumulative = prefix sum of per-age revenue, strictly increasing ages
      var cum = 0L
      sorted.foreach { r =>
        cum += math.round(r.getAs[Double]("revenue") * 100)
        assert(math.round(r.getAs[Double]("cum_revenue") * 100) == cum, s"$cd")
        assert(r.getAs[Int]("age") >= 0 && r.getAs[Long]("buyers") >= 1)
      }
    }
    // grand total equals the raw purchase revenue
    val total = rows.map(r => math.round(r.getAs[Double]("revenue") * 100)).sum
    val raw = Tables.eventsTs(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(round(col("value") * 100).cast("long").as("c"))
      .agg(sum("c")).head().getLong(0)
    assert(total == raw)
  }

  test("purchase_attribution: matches an in-memory last-touch recompute") {
    val got = queries.Temporal.purchaseAttribution(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("click_event_id"))) None
         else Some(r.getAs[Long]("click_event_id")))).toMap
    val ev = Tables.eventsTs(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .filter(e => e._3 == "click" || e._3 == "purchase")
    val winUs = 7L * 24 * 3600 * 1000000
    val byUser = ev.groupBy(_._2)
    val expect = byUser.values.flatten.filter(_._3 == "purchase").map { p =>
      val clicks = byUser(p._2).filter(c => c._3 == "click" &&
        (c._4 < p._4 || (c._4 == p._4)))
      val best = if (clicks.isEmpty) None
        else Some(clicks.maxBy(c => (c._4, c._1)))
      p._1 -> best.filter(c => p._4 - c._4 <= winUs).map(_._1)
    }.toMap
    assert(got == expect)
    // both outcomes present in the fixture
    assert(got.values.exists(_.isDefined) && got.values.exists(_.isEmpty))
  }

  test("multi_touch_attribution: credits match an in-memory linear recompute") {
    val got = queries.Temporal.multiTouchAttribution(spark, sf).collect()
    val ev = Tables.eventsTs(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .filter(e => e._3 == "click" || e._3 == "purchase")
    val winUs = 7L * 24 * 3600 * 1000000
    val byUser = ev.groupBy(_._2)
    // pairs per the window rule, then per-term micro credits per click
    val pairs = byUser.values.flatten.filter(_._3 == "purchase").flatMap { p =>
      byUser(p._2).filter(c => c._3 == "click" &&
        c._4 >= p._4 - winUs && c._4 <= p._4).map(c => (p._1, c._1))
    }.toSeq
    val nPer = pairs.groupBy(_._1).map { case (pid, ps) => pid -> ps.size }
    val expect = pairs.groupBy(_._2).map { case (cid, ps) =>
      cid -> (ps.size.toLong,
        ps.map(pr => math.floor(1e6 / nPer(pr._1) + 0.5).toLong).sum)
    }
    // one output row per click; credits and counts match; zero rows zero
    val clicks = ev.filter(_._3 == "click").map(_._1).toSet
    assert(got.length == clicks.size)
    got.foreach { r =>
      val cid = r.getAs[Long]("click_event_id")
      val (n, micros) = expect.getOrElse(cid, (0L, 0L))
      assert(r.getAs[Long]("n_purchases") == n, s"click $cid n")
      assert(r.getAs[Double]("credit") == micros.toDouble / 1e6, s"click $cid credit")
    }
    // total credit ≈ one unit per attributed purchase (micro-rounding only)
    val totalMicros = expect.values.map(_._2).sum
    assert(math.abs(totalMicros - nPer.size * 1000000L) <= nPer.size)
    assert(got.exists(_.getAs[Long]("n_purchases") > 0) &&
      got.exists(_.getAs[Long]("n_purchases") == 0))
  }

  test("events_mad_outliers: medians are member values, rule matches recompute") {
    val rows = queries.Temporal.eventsMadOutliers(spark, sf).collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, rs) =>
      val cents = rs.map(r => math.round(r.getAs[Double]("value") * 100)).sorted
      val medC = math.round(rs.head.getAs[Double]("user_med") * 100)
      val madC = math.round(rs.head.getAs[Double]("user_mad") * 100)
      // discrete lower median: the element at rank floor((n+1)/2)
      assert(medC == cents((cents.length + 1) / 2 - 1), s"user $u median")
      val devs = cents.map(c => math.abs(c - medC)).sorted
      assert(madC == devs((devs.length + 1) / 2 - 1), s"user $u mad")
      rs.foreach { r =>
        val d = math.abs(math.round(r.getAs[Double]("value") * 100) - medC)
        val expect = if (madC == 0) d > 0 else d * 10000 > madC * 44478
        assert(r.getAs[Boolean]("outlier") == expect, s"user $u event")
      }
    }
    // the robust rule must actually flag something AND not flag everything
    val n = rows.count(_.getAs[Boolean]("outlier"))
    assert(n > 0 && n < rows.length / 2)
  }

  test("ann_cosine_filtered: every hit shares the query's label, pre-filter exact") {
    val rows = queries.Similarity.annCosineFiltered(spark, sf).collect()
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5)
      assert(rs.forall(_.getAs[Int]("q_label") == labels(q)))
      assert(rs.forall(r => labels(r.getAs[Long]("vec_id")) == labels(q)))
      // pre-filter is exact within the filtered corpus: recompute top-5
      val cand = labels.filter { case (v, l) => l == labels(q) && v != q }.keySet
      val gotSet = rs.map(_.getAs[Long]("vec_id")).toSet
      assert(gotSet.subsetOf(cand))
      // vs unfiltered search: at least one query's filtered set differs
    }
    val unfiltered = queries.Similarity.bruteForceTopK(spark, sf).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    assert(byQ.exists { case (q, rs) =>
      rs.map(_.getAs[Long]("vec_id")).toSet != unfiltered(q) })
  }

  test("events_seasonal: per-type counts total to the corpus, indices average to 1") {
    val rows = queries.Temporal.eventsSeasonal(spark, sf).collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    val corpus = Tables.eventsTs(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count")).toMap
    assert(byType.keySet == corpus.keySet)
    byType.foreach { case (t, rs) =>
      assert(rs.map(_.getAs[Long]("n")).sum == corpus(t))
      assert(rs.forall(r => r.getAs[Int]("hr") >= 0 && r.getAs[Int]("hr") <= 23))
      // idx = n·24/tot → Σ_hours idx = 24 (up to r4 rounding per row)
      val sumIdx = rs.map(_.getAs[Double]("idx")).sum
      assert(math.abs(sumIdx - 24.0) < 0.01 * rs.length,
        s"$t seasonality indices sum to $sumIdx, want ~24")
    }
  }

  test("events_seasonal_anomaly: every alarm satisfies the 3-sigma gate; rate is a tail, not a flood") {
    val alarms = queries.Temporal.eventsSeasonalAnomaly(spark, sf).collect()
    assert(alarms.nonEmpty, "uniform fixture still has chance 3-sigma cells")
    alarms.foreach { r =>
      val e = r.getAs[Double]("expected"); val d = r.getAs[Double]("resid")
      // rounded outputs of the unrounded gate: allow the 1e-4 Det grid
      assert(d * d > 9.0 * e - 1e-2, s"alarm below the gate: $r")
      assert(r.getAs[Long]("n") >= 0 && e > 0)
    }
    // ~0.3-0.4% false-positive rate expected on uniform data; a flood
    // (>2% of the dense grid) would mean the baseline is wrong
    val grid = queries.Temporal.eventsSeasonal(spark, sf)
      .select("event_type").distinct().count() *
      Tables.eventsTs(spark, sf).select(org.apache.spark.sql.functions
        .to_date(org.apache.spark.sql.functions.col("ts"))).distinct().count() * 24
    assert(alarms.length.toDouble / grid < 0.02,
      s"${alarms.length} alarms over $grid cells")
  }

  test("scd2_order_status: partitions each customer's history into maximal runs") {
    val rows = queries.Temporal.scd2OrderStatus(spark, sf).collect()
    val perCust = Tables.orders(spark, sf).groupBy("o_custkey").count()
      .collect().map(r => r.getAs[Long]("o_custkey") -> r.getAs[Long]("count")).toMap
    val byCust = rows.groupBy(_.getAs[Long]("o_custkey"))
    assert(byCust.keySet == perCust.keySet)
    byCust.foreach { case (c, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("run_id"))
      // runs cover every order exactly once
      assert(sorted.map(_.getAs[Long]("n_orders")).sum == perCust(c))
      // exactly one open (current) interval, and it is the last run
      assert(sorted.count(_.getAs[Boolean]("is_current")) == 1)
      assert(sorted.last.getAs[Boolean]("is_current"))
      // intervals chain: valid_to == next run's valid_from; runs maximal
      // (consecutive statuses differ)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // NTZ timestamps surface as LocalDateTime — compare generically
          assert(a.getAs[Any]("valid_to") == b.getAs[Any]("valid_from"))
          assert(a.getAs[String]("status") != b.getAs[String]("status"))
        case _ =>
      }
    }
    // golden: F,F,O,F compresses to 3 runs of sizes 2/1/1
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_scd2_golden").getAbsolutePath
    Seq((10L, 1L, "F", 5.0, "1995-01-01", "1-URGENT"),
        (11L, 1L, "F", 5.0, "1995-01-02", "1-URGENT"),
        (12L, 1L, "O", 5.0, "1995-01-03", "1-URGENT"),
        (13L, 1L, "F", 5.0, "1995-01-04", "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "ds", "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp(col("ds"))).drop("ds")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val g = queries.Temporal.scd2OrderStatus(spark, dir).collect()
    assert(g.map(r => (r.getAs[String]("status"), r.getAs[Long]("n_orders")))
      .toSeq == Seq(("F", 2L), ("O", 1L), ("F", 1L)))
  }

  test("events_heavy_hitters: equals unbounded groupBy; MG finds the bot in a sea of singletons") {
    // fixture: exact equality with the plain HAVING answer
    val got = queries.Temporal.eventsHeavyHitters(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("cnt")).toMap
    val n = Tables.eventsTs(spark, sf).filter(col("user_id").isNotNull).count()
    val want = Tables.eventsTs(spark, sf).filter(col("user_id").isNotNull)
      .groupBy("user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count"))
      .filter { case (_, c) => c * 151 > n }.toMap
    assert(got == want && got.nonEmpty && got.size < 150)
    // synthetic: one bot among 5000 singletons; k=150 counters per
    // partition << 5001 distinct keys, the bot still survives
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hh_bot").getAbsolutePath
    val rows = (1L to 5000L).map(i => (i, "2024-01-01 00:00:00", i + 100L)) ++
      (5001L to 10000L).map(i => (i, "2024-01-01 00:00:00", 7L))
    rows.toDF("event_id", "tss", "user_id")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val bot = queries.Temporal.eventsHeavyHitters(spark, dir).collect()
    assert(bot.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("cnt")))
      .toSeq == Seq((7L, 5000L)))
  }

  test("orders_forecast_snaive: seven weekdays, MAE matches a hand recompute") {
    val got = queries.Relational.ordersForecastSnaive(spark, sf).collect()
    assert(got.map(_.getAs[Int]("weekday")).toSeq == (0 to 6))
    assert(got.forall(_.getAs[Double]("mae") >= 0))
    // recompute weekday 0 from the daily series
    val daily = Tables.orders(spark, sf)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(r => r.getAs[Int]("day") -> r.getAs[Long]("c")).toMap
    val pairs = daily.keys.filter(d => daily.contains(d - 7) && d % 7 == 0).toSeq
    val mae = pairs.map(d => math.abs(daily(d) - daily(d - 7))).sum.toDouble /
      pairs.length / 100
    val gotMae = got.find(_.getAs[Int]("weekday") == 0).get.getAs[Double]("mae")
    assert(math.abs(gotMae - mae) < 0.01,
      s"weekday-0 MAE $gotMae vs recomputed $mae")
  }

  test("embedding_drift: matches an in-memory exact-centroid recompute") {
    val got = queries.Similarity.embeddingDrift(spark, sf).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("drift_l2"))).toMap
    val embs = Tables.embeddings(spark, sf)
      .select("label", "embedding").collect()
      .map(r => r.getAs[Int]("label") ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong))
    val dims = embs.head._2.length
    val byLabel = embs.groupBy(_._1)
    val globalSum = Array.tabulate(dims)(d => embs.map(_._2(d)).sum)
    val ng = embs.length.toLong
    byLabel.foreach { case (l, vs) =>
      val nl = vs.length.toLong
      val sl = Array.tabulate(dims)(d => vs.map(_._2(d)).sum)
      val ssq = (0 until dims).map { d =>
        val num = BigInt(sl(d)) * ng - BigInt(globalSum(d)) * nl
        num * num
      }.sum
      val want = math.sqrt(ssq.toDouble) / (nl.toDouble * ng) / 1e6
      assert(got(l)._1 == nl)
      assert(math.abs(got(l)._2 - want) < 1e-6,
        s"label $l drift ${got(l)._2} vs $want")
    }
  }

  test("revenue_cusum: identity output equals the direct max(0, .) recursion") {
    val rows = queries.Relational.revenueCusum(spark, sf).collect()
    val daily = Tables.orders(spark, sf)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(r => r.getAs[Int]("day") -> r.getAs[Long]("c"))
      .sortBy(_._1)
    assert(rows.length == daily.length)
    val n = daily.length.toLong
    val s1 = daily.map(_._2).sum
    // direct recursion in cents·n units
    var s = 0L
    val direct = daily.map { case (_, c) =>
      s = math.max(0L, s + (c * n - s1)); s }
    rows.sortBy(_.getAs[Int]("day")).zip(direct).foreach { case (r, d) =>
      val want = math.floor(d.toDouble / (n * 100.0) * 100 + 0.5) / 100
      assert(r.getAs[Double]("cusum") == want,
        s"day ${r.getAs[Int]("day")}: ${r.getAs[Double]("cusum")} vs $want")
    }
    assert(rows.forall(_.getAs[Double]("cusum") >= 0))
  }

  test("events_quantiles_by_type: rank-selected member values, monotone across p") {
    val rows = queries.Temporal.eventsQuantilesByType(spark, sf).collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    val vals = Tables.eventsTs(spark, sf)
      .filter(col("value").isNotNull && !isnan(col("value")))
      .select("event_type", "value").collect()
      .groupBy(_.getAs[String]("event_type"))
      .map { case (t, rs) => t ->
        rs.map(r => math.round(r.getAs[Double]("value") * 100)).sorted }
    assert(byType.keySet == vals.keySet)
    byType.foreach { case (t, rs) =>
      val sorted = rs.sortBy(_.getAs[Double]("p"))
      assert(sorted.map(_.getAs[Double]("p")).toSeq == Seq(0.5, 0.9, 0.99))
      // monotone in p, and each is the exact rank-selected member
      val got = sorted.map(r => math.round(r.getAs[Double]("value") * 100))
      assert(got.zip(got.tail).forall { case (a, b) => a <= b })
      sorted.foreach { r =>
        val rank = r.getAs[Long]("rank_target").toInt
        assert(math.round(r.getAs[Double]("value") * 100) == vals(t)(rank - 1),
          s"$t p=${r.getAs[Double]("p")}")
      }
    }
  }

  test("k_anonymity: cells partition the table, flags match the threshold") {
    val rows = queries.Relational.kAnonymity(spark, sf).collect()
    val total = Tables.customer(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    assert(rows.forall(r => r.getAs[Boolean]("k_ok") == (r.getAs[Long]("n") >= 5)))
    val shares = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shares - 1.0) < 1e-3)
  }

  test("user_erasure_audit: counts reconcile per table, indirect rows included") {
    val got = queries.Temporal.userErasureAudit(spark, sf).collect()
      .map(r => r.getAs[String]("table_name") -> r.getAs[Long]("n_rows")).toMap
    assert(got.keySet == Set("events", "customer", "orders", "lineitem"))
    val wantEv = Tables.eventsTs(spark, sf)
      .filter(col("user_id") % 97 === 0).count()
    val cohortOrders = Tables.orders(spark, sf)
      .filter(col("o_custkey") % 97 === 0)
    val keys = cohortOrders.select("o_orderkey").collect()
      .map(_.getLong(0)).toSet
    val wantLi = Tables.lineitem(spark, sf).select("l_orderkey").collect()
      .count(r => keys.contains(r.getLong(0)))
    assert(got("events") == wantEv)
    assert(got("orders") == cohortOrders.count())
    assert(got("lineitem") == wantLi && wantLi > 0)
  }

  test("events_ab_test: Welch t recomputes from per-user totals; parity split has no SRM") {
    val r = queries.Temporal.eventsAbTest(spark, sf).head()
    val perUser = Tables.eventsTs(spark, sf).filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long"))), lit(0L)).as("c"))
      .collect().map(x => (x.getAs[Long]("user_id"), x.getAs[Long]("c")))
    val (t0, c0) = perUser.partition(_._1 % 2 == 0)
    assert(r.getAs[Long]("n_c") == c0.length && r.getAs[Long]("n_t") == t0.length)
    def stats(xs: Array[Long]) = {
      val n = xs.length; val m = xs.sum.toDouble / n
      val v = xs.map(x => (x - m) * (x - m)).sum / (n - 1)
      (m, v, n)
    }
    val (mc, vc, nc) = stats(c0.map(_._2))
    val (mt, vt, nt) = stats(t0.map(_._2))
    val t = (mt - mc) / math.sqrt(vc / nc + vt / nt)
    assert(math.abs(r.getAs[Double]("t_stat") - t) < 1e-3,
      s"t ${r.getAs[Double]("t_stat")} vs recomputed $t")
    assert(r.getAs[Boolean]("significant") == (math.abs(t) > 1.96))
    // parity assignment over contiguous user ids cannot mismatch by more
    // than one unit: chi2 ~ 0
    assert(r.getAs[Double]("srm_chi2") < 0.1)
    assert(math.abs(r.getAs[Double]("mean_c") - mc / 100) < 1e-3)
  }

  test("events_winsorized_stats: clamping shrinks std, preserves count, cutoffs are members") {
    val r = queries.Temporal.eventsWinsorizedStats(spark, sf).head()
    val vals = Tables.eventsTs(spark, sf)
      .filter(col("value").isNotNull && !isnan(col("value")))
      .select(round(col("value") * 100).cast("long").as("c"))
      .collect().map(_.getLong(0)).sorted
    assert(r.getAs[Long]("n") == vals.length)
    // winsorizing can only reduce spread; means move toward the center
    assert(r.getAs[Double]("std_wins") <= r.getAs[Double]("std_raw"))
    // cutoffs are exact member values at the ceil(p*n) ranks
    def cut(p: Double) = vals(math.ceil(p * vals.length).toInt - 1)
    assert(math.round(r.getAs[Double]("p01") * 100) == cut(0.01))
    assert(math.round(r.getAs[Double]("p99") * 100) == cut(0.99))
    // winsorized mean recomputes
    val lo = cut(0.01); val hi = cut(0.99)
    val mw = vals.map(v => math.max(lo, math.min(hi, v))).sum.toDouble /
      vals.length / 100
    assert(math.abs(r.getAs[Double]("mean_wins") - mw) < 1e-3)
  }

  test("user_diversity_simpson: recomputes per user; single-behavior users score 0") {
    val got = queries.Temporal.userDiversitySimpson(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_types"), r.getAs[Double]("simpson"))).toMap
    val raw = Tables.eventsTs(spark, sf).filter(col("user_id").isNotNull)
      .select("user_id", "event_type").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
      .groupBy(_._1)
    assert(got.keySet == raw.keySet)
    raw.foreach { case (u, evs) =>
      val counts = evs.groupBy(_._2).values.map(_.length.toLong).toSeq
      val n = counts.sum
      val simpson = 1.0 - counts.map(c => c.toDouble * c).sum / (n.toDouble * n)
      val (gn, gt, gs) = got(u)
      assert(gn == n && gt == counts.length)
      assert(math.abs(gs - simpson) < 1e-5)
      if (counts.length == 1) assert(gs == 0.0)
    }
  }

  test("revenue_pareto_share: shares recompute at the bucket cutoffs; top spenders over-indexed") {
    val rows = queries.Relational.revenueParetoShare(spark, sf).collect()
    assert(rows.length == 2)
    val perCust = Tables.orders(spark, sf).groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(_.getAs[Long]("c"))
    val tot = perCust.sum
    rows.foreach { r =>
      val cutCents = r.getAs[Long]("cutoff_dollars") * 100
      val top = perCust.filter(c => c / 10000 >= cutCents / 10000)
      assert(r.getAs[Long]("n_top") == top.length)
      val share = math.floor(top.sum.toDouble / tot * 1e6 + 0.5) / 1e6
      assert(r.getAs[Double]("rev_share") == share)
      // spend-ranked top group must hold at least its headcount share
      assert(r.getAs[Double]("rev_share") >= r.getAs[Double]("cust_share") - 1e-9)
    }
    // edge inputs: customer 4's every price is NULL, so its NULL m_b
    // bucket counts in n and n_cust but in no bar; customers 2 and 3 tie
    // in the 10% bar's cutoff bucket, 2 exactly on its $100 edge; the 1%
    // bar's running count meets its target exactly at the top bucket
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_pareto_edges").getAbsolutePath
    (Seq[(Long, Option[Double])]((1L, Some(500.0)), (2L, Some(300.0)),
      (3L, Some(250.0)), (3L, Some(149.99)), (4L, None), (4L, None)) ++
      (5L to 20L).map(c => (c, Some(10.0))))
      .toDF("o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val edges = queries.Relational.revenueParetoShare(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(edges.toSeq == Seq((0.10, 300L, 3L, 0.882352, 0.15),
      (0.01, 500L, 1L, 0.36765, 0.05)))
  }

  test("l_diversity: cells match the k-anonymity audit; l bounded by n and band count") {
    val ld = queries.Relational.lDiversity(spark, sf).collect()
    val ka = queries.Relational.kAnonymity(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_nationkey"), r.getAs[String]("c_mktsegment"))
        -> r.getAs[Long]("n")).toMap
    assert(ld.nonEmpty && ld.length == ka.size)
    ld.foreach { r =>
      val key = (r.getAs[Long]("c_nationkey"), r.getAs[String]("c_mktsegment"))
      val (n, l) = (r.getAs[Long]("n"), r.getAs[Long]("l"))
      assert(ka(key) == n, s"cell $key size differs from k-anonymity")
      assert(l >= 1 && l <= n, s"cell $key l=$l outside [1, n=$n]")
      // band domain: acctbal in [-1000, 10000) → at most 5 bands of $2500
      assert(l <= 5, s"cell $key l=$l exceeds the band domain")
      assert(r.getAs[Boolean]("l_ok") == (l >= 3))
    }
    // golden: one cell whose members all share a band leaks the attribute
    import spark.implicits._
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ldiv_golden").getAbsolutePath
    Seq((1L, 5L, "AUTO", 100.0), (2L, 5L, "AUTO", 200.0),
        (3L, 5L, "AUTO", 300.0),                       // one band: leaks
        (4L, 5L, "BLDG", 100.0), (5L, 5L, "BLDG", 2700.0),
        (6L, 5L, "BLDG", 5200.0))                      // three bands: diverse
      .toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val g = queries.Relational.lDiversity(spark, dir).collect()
      .map(r => r.getAs[String]("c_mktsegment")
        -> (r.getAs[Long]("l"), r.getAs[Boolean]("l_ok"))).toMap
    assert(g("AUTO") == ((1L, false)) && g("BLDG") == ((3L, true)))
  }

  test("t_closeness: cells match k-anonymity; hand-computed EMD golden") {
    val tc = queries.Relational.tCloseness(spark, sf).collect()
    val ka = queries.Relational.kAnonymity(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_nationkey"), r.getAs[String]("c_mktsegment"))
        -> r.getAs[Long]("n")).toMap
    assert(tc.nonEmpty && tc.length == ka.size)
    tc.foreach { r =>
      val key = (r.getAs[Long]("c_nationkey"), r.getAs[String]("c_mktsegment"))
      assert(ka(key) == r.getAs[Long]("n"))
      val emd = r.getAs[Double]("emd")
      assert(emd >= 0.0 && emd <= 1.0, s"cell $key emd=$emd outside [0,1]")
      assert(r.getAs[Boolean]("t_ok") == (emd <= 0.2))
    }
    // golden (same fixture as l_diversity): global bands 4/1/1 of 6,
    // AUTO all in band 0 -> cum micro diffs 333334+166668+2 = 500004,
    // EMD = 0.250002; BLDG spread 1/1/1 -> 333333+166666+1 = 500000,
    // EMD = 0.25 — both exceed t=0.2 against the skewed global
    import spark.implicits._
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_tclose_golden").getAbsolutePath
    Seq((1L, 5L, "AUTO", 100.0), (2L, 5L, "AUTO", 200.0),
        (3L, 5L, "AUTO", 300.0),
        (4L, 5L, "BLDG", 100.0), (5L, 5L, "BLDG", 2700.0),
        (6L, 5L, "BLDG", 5200.0))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val g = queries.Relational.tCloseness(spark, dir).collect()
      .map(r => r.getAs[String]("c_mktsegment")
        -> (r.getAs[Double]("emd"), r.getAs[Boolean]("t_ok"))).toMap
    assert(g("AUTO") == ((0.250002, false)), s"got ${g("AUTO")}")
    assert(g("BLDG") == ((0.25, false)), s"got ${g("BLDG")}")
  }

  test("user_growth_daily: cumulative uniques reconcile with DAU and first-seen") {
    val rows = queries.Temporal.userGrowthDaily(spark, sf).collect()
    assert(rows.nonEmpty)
    val cum = rows.map(_.getAs[Long]("cum_users"))
    // cumulative is nondecreasing and equals the running sum of new_users
    assert(cum.zip(cum.tail).forall { case (a, b) => a <= b })
    val runSum = rows.map(_.getAs[Long]("new_users")).scanLeft(0L)(_ + _).tail
    assert(cum.toSeq == runSum.toSeq)
    // final cumulative == total distinct users; per-day DAU <= cum
    val total = Tables.eventsTs(spark, sf).filter(col("user_id").isNotNull)
      .select("user_id").distinct().count()
    assert(cum.last == total)
    rows.foreach(r => assert(r.getAs[Long]("dau") <= r.getAs[Long]("cum_users")))
  }

  test("events_stickiness: wau bounds dau, ratio in (0, 1e6], wau == brute-force trailing distinct") {
    val rows = queries.Temporal.eventsStickiness(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dau, wau, ppm) = (r.getAs[Long]("dau"), r.getAs[Long]("wau"),
        r.getAs[Long]("stickiness_ppm"))
      assert(dau >= 1 && dau <= wau)
      assert(ppm >= 1 && ppm <= 1000000L, s"ppm $ppm")
    }
    // brute-force the trailing-7-day distinct on the collected user-days
    val ud = Tables.eventsTs(spark, sf)
      .filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct().collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val expect = ud.map(_._1).distinct.map { d =>
      d -> ud.filter { case (ud2, _) =>
        !ud2.isAfter(d) && ud2.isAfter(d.minusDays(7)) }.map(_._2).distinct.length
    }.toMap
    rows.foreach { r =>
      val d = r.getDate(r.fieldIndex("day")).toLocalDate
      assert(r.getAs[Long]("wau") == expect(d), s"wau mismatch on $d")
    }
  }

  test("events_autocorr: lags 1..7, Cauchy-Schwarz bound, matches brute force") {
    val rows = queries.Temporal.eventsAutocorr(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("lag")).toSeq == (1 to 7))
    rows.foreach { r =>
      val a = r.getAs[Long]("acf_ppm")
      assert(math.abs(a) <= 1000000L, s"lag ${r.getAs[Int]("lag")}: $a")
    }
    // brute force on the collected dense daily series
    val daily = Tables.eventsTs(spark, sf)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
      .collect().map(r => r.getDate(0).toLocalDate.toEpochDay -> r.getLong(1))
      .toMap
    val lo = daily.keys.min
    val hi = daily.keys.max
    val xs = (lo to hi).map(d => daily.getOrElse(d, 0L)).toArray
    val n = xs.length
    val s = xs.sum
    val c = xs.map(x => x * n - s)
    val den = c.map(v => BigInt(v) * v).sum
    rows.foreach { r =>
      val k = r.getAs[Int]("lag")
      val num = (k until n).map(t => BigInt(c(t)) * c(t - k)).sum
      val expect = math.floor(num.toDouble / den.toDouble * 1e6 + 0.5).toLong
      assert(r.getAs[Long]("acf_ppm") == expect, s"lag $k")
    }
  }

  test("events_bot_regularity: injected metronome flags, bursty human does not") {
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("graft_bot").toString
    def ts(us: Long) = new Timestamp(us / 1000)
    // user 1: perfect metronome, 40 events 1000 s apart (cv = 0)
    val bot = (0 until 40).map(i =>
      (i.toLong, ts(1700000000000000L + i * 1000000000L), 1L, "view", 1.0, "{}"))
    // user 2: bursty human — gaps alternate 1 s / 10 000 s (cv >> 0.1)
    var t = 1700000000000000L
    val human = (0 until 40).map { i =>
      t += (if (i % 2 == 0) 1000000L else 10000000000L)
      (100L + i, ts(t), 2L, "view", 1.0, "{}")
    }
    (bot ++ human).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = queries.Temporal.eventsBotRegularity(spark, dir).collect()
    val byUser = rows.map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(byUser(1L).getAs[Boolean]("is_bot"))
    assert(byUser(1L).getAs[Long]("cv2_ppm") == 0L)
    assert(!byUser(2L).getAs[Boolean]("is_bot"))
    assert(byUser(2L).getAs[Long]("cv2_ppm") > 10000L) // cv2 far above 0.01
    // the metronome sorts first (most regular)
    assert(rows.head.getAs[Long]("user_id") == 1L)
  }

  private implicit class Tup3Map(rs: Array[(Long, Long, Double)]) {
    def toMap2: Map[Long, (Long, Double)] = rs.map(r => r._1 -> (r._2, r._3)).toMap
  }
}
