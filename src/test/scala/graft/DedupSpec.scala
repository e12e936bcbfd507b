package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup family semantics on sf0.001 (25 injected near-dup pairs exist at
  * sf0.01; sf0.001 shares the generator so near-dups exist there too). */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf
  import spark.implicits._

  test("exact dedup: every doc appears once; canonical iff min of its hash group") {
    val rows = queries.Dedup.exactDedup(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val byHash = rows.groupBy(_.getAs[String]("content_hash"))
    byHash.foreach { case (_, g) =>
      val canon = g.filter(_.getAs[Boolean]("is_canonical"))
      assert(canon.length == 1)
      assert(canon.head.getAs[Long]("doc_id") == g.map(_.getAs[Long]("doc_id")).min)
      assert(g.forall(_.getAs[Long]("n_copies") == g.length))
    }
  }

  test("minhash LSH output equals exact ngram jaccard pairs at the 0.8 threshold") {
    val lsh = queries.Dedup.minhashLshDedup(spark, sf).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val exact = queries.Dedup.ngramJaccardPairs(spark, sf).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(lsh == exact)
    assert(exact.nonEmpty)  // generator injects near-dups
  }

  test("jaccard values are in (0.8, 1] and pairs ordered doc_a < doc_b") {
    val rows = queries.Dedup.ngramJaccardPairs(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.8 && j <= 1.0)
    }
  }

  test("simhash: near-identical texts collide, different texts don't") {
    // construct a controlled frame through the same hash construction
    val toks = Seq(
      (1L, "spark table scan filter join group order window batch stream"),
      (2L, "spark table scan filter join group order window batch streams"), // 1 token differs
      (3L, "completely unrelated words entirely disjoint vocabulary here now"))
      .toDF("doc_id", "text")
    // reuse the query on a temp dir is awkward; assert via hamming of pairs on fixture instead
    val rows = queries.Dedup.simhashDedup(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("hamming") <= 3)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("jaccard kernel: keeps raw == t, drops raw < t, rounds half-up to 6 places") {
    val k = queries.Dedup.DupKernel
    // 4 / (5 + 4 - 4) is exactly 0.8: kept at t = 0.8
    assert(k.jaccard(Array(1L, 2, 3, 4, 5), Array(1L, 2, 3, 4), 0.8) == Some((4, 0.8)))
    // 3 / (3 + 4 - 3) = 0.75 < 0.8: dropped
    assert(k.jaccard(Array(1L, 2, 3), Array(1L, 2, 3, 4), 0.8).isEmpty)
    // 1 / 128 = 0.0078125: the 7th place is an exact tie, rounded up
    assert(k.jaccard(Array(64L), (1L to 128L).toArray, 0.0) == Some((1, 0.007813)))
  }

  test("simhash vote: no grams emit no signature; a bit set by exactly n/2 grams is clear") {
    val k = queries.Dedup.DupKernel
    assert(k.simhash(0)(_ => fail("a zero-gram doc digests nothing")).isEmpty)
    // only the first 6 digest bytes count, big-endian: byte 5 holds bits 0-7
    def d(low: Int): Array[Byte] = Array[Byte](0, 0, 0, 0, 0, low.toByte, -1, -1)
    // two grams, 0b11 and 0b01: bit 0 set by both, bit 1 by exactly half
    assert(k.simhash(2)(i => d(if (i == 0) 3 else 1)) == Some(1L))
    // three grams, 0b11 twice and 0b01: bit 1 now has the majority
    assert(k.simhash(3)(i => d(if (i == 2) 1 else 3)) == Some(3L))
    // byte 0's high bit is the signature's top bit, bit SimBits - 1
    assert(k.simhash(1)(_ => Array[Byte](-128, 0, 0, 0, 0, 0)) ==
      Some(1L << (k.SimBits - 1)))
  }

  test("embedding cosine dedup: symmetric-free pairs, cosine in [-1,1]") {
    val rows = queries.Dedup.embeddingCosineDups(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
      val c = r.getAs[Double]("cosine")
      assert(c >= 0.47 && c <= 1.0)
    }
  }

  test("embedding_dedup_lsh: nonempty deterministic subset of the exact pairs") {
    val exact = queries.Dedup.embeddingCosineDups(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
        r.getAs[Double]("cosine")).toMap
    val lsh = queries.Dedup.embeddingDupsLsh(spark, sf).collect()
    assert(lsh.nonEmpty) // fixture geometry yields (at least) one collision
    lsh.foreach { r =>
      val k = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      assert(exact.contains(k), s"$k not in the exact pair set")
      assert(exact(k) == r.getAs[Double]("cosine"))
    }
    // derived signature width: exact integer rule, fixture floor at 6
    assert(queries.Dedup.derivedLshBits(500) == 6)
    assert(queries.Dedup.derivedLshBits(8L << 14) == 14)
    assert(queries.Dedup.derivedLshBits((8L << 14) + 1) == 15)
    assert(queries.Dedup.derivedLshBits(Long.MaxValue / 2) == 24)
  }

  test("dedup clusters: local union-find and distributed propagation agree") {
    val local = queries.Dedup.dedupClusters(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    // force the distributed label-propagation path (threshold 0)
    val dist = queries.Dedup.dedupClusters(spark, sf, localCcMaxEdges = 0L)
      .collect().map(_.toString).sorted.toSeq
    assert(local == dist && local.nonEmpty)
  }

  test("dedup_delta: incremental labels equal full-recompute labels on the delta") {
    // the contraction argument, checked end-to-end: contracting base
    // endpoints to their standing-cluster canonicals and re-running CC
    // over only the delta-touching edges must reproduce exactly what
    // dedupClusters says about the delta docs when run over everything
    val full = queries.Dedup.dedupClusters(spark, sf)
      .select("doc_id", "canonical_id").as[(Long, Long)].collect().toMap
    val delta = queries.Dedup.dedupDelta(spark, sf).collect()
    assert(delta.nonEmpty)
    delta.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(id % 10 == 7, s"non-delta doc $id in delta output")
      val expected = full.getOrElse(id, id) // absent = singleton = self
      assert(r.getAs[Long]("canonical_id") == expected,
        s"doc $id: incremental ${r.getAs[Long]("canonical_id")} != full $expected")
      assert(r.getAs[Boolean]("keep") == (id == expected))
    }
    // new_content ⟺ the full component contains no base doc
    val members = full.toSeq.groupBy(_._2).map { case (c, g) => c -> g.map(_._1) }
    delta.foreach { r =>
      val comp = members.getOrElse(r.getAs[Long]("canonical_id"),
        Seq(r.getAs[Long]("doc_id")))
      assert(r.getAs[Boolean]("new_content") == comp.forall(_ % 10 == 7))
    }
  }

  test("chunked verification path emits the same pairs as the broadcast path") {
    val bc = queries.Dedup.ngramJaccardPairs(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    spark.conf.set("graft.verify.broadcastMaxBytes", "0")   // force chunked
    try {
      val chunked = queries.Dedup.ngramJaccardPairs(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(chunked == bc && bc.nonEmpty)
    } finally spark.conf.unset("graft.verify.broadcastMaxBytes")
  }

  test("dedup clusters: reliable-checkpoint star rounds agree with union-find") {
    spark.conf.set("graft.cc.reliableCheckpoint", "true")
    try {
      val dist = queries.Dedup.dedupClusters(spark, sf, localCcMaxEdges = 0L)
        .collect().map(_.toString).sorted.toSeq
      val local = queries.Dedup.dedupClusters(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(dist == local && dist.nonEmpty)
    } finally spark.conf.unset("graft.cc.reliableCheckpoint")
  }

  test("dedup clusters: valid union-find over simhash pairs") {
    val pairs = queries.Dedup.simhashDedup(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val rows = queries.Dedup.dedupClusters(spark, sf).collect()
    val label = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    // membership: exactly the docs touching an edge
    assert(label.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    // every edge is intra-cluster
    pairs.foreach { case (a, b) => assert(label(a) == label(b)) }
    // canonical = min member; keep iff canonical; n_members = cluster size
    val clusters = label.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
    clusters.foreach { case (canon, members) => assert(canon == members.min) }
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("keep") == (id == label(id)))
      assert(r.getAs[Long]("n_members") == clusters(label(id)).size)
    }
    assert(clusters.exists(_._2.size > 1), "fixture has non-trivial clusters")
  }

  test("semdedup: one verdict per vector; dup_of is an earlier same-cell vector within tau") {
    val rows = queries.Dedup.semDedup(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.length == n, "exactly one verdict per vector")
    val cell = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val keep = r.getAs[Boolean]("keep")
      if (keep) assert(r.isNullAt(r.fieldIndex("dup_of")), s"vec $id")
      else {
        val d = r.getAs[Long]("dup_of")
        assert(d < id, s"vec $id: dup_of $d not earlier")
        assert(cell(d) == cell(id), s"vec $id: dup_of $d in another cell")
      }
    }
    // the fixture has semantic dups (measured: 3 at sf0.01) — a corpus
    // where nothing is ever dropped would verify nothing
    assert(rows.exists(!_.getAs[Boolean]("keep")))
    // cross-check against the exact O(n^2) dedup at the same threshold:
    // every semdedup drop must be a true cosine-dup pair (no false
    // positives; recall below exact is the clustering approximation)
    val exact = queries.Dedup.embeddingCosineDups(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    rows.filter(!_.getAs[Boolean]("keep")).foreach { r =>
      val p = (r.getAs[Long]("dup_of"), r.getAs[Long]("vec_id"))
      assert(exact.contains(p), s"semdedup drop $p not an exact cosine dup")
    }
  }

  test("containment_pairs: supersets jaccard pairs; catches the quote jaccard misses") {
    import spark.implicits._
    val cont = queries.Dedup.containmentPairs(spark, sf).collect()
    assert(cont.forall(_.getAs[Double]("containment") >= 0.8))
    // j >= 0.8 implies containment(smaller side) >= j, and at fixture
    // scale the df cap prunes nothing — every jaccard pair must appear
    val jacc = queries.Dedup.ngramJaccardPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val contPairs = cont.map(r =>
      (r.getAs[Long]("contained"), r.getAs[Long]("container"))).toSet
    jacc.foreach { case (a, b) =>
      assert(contPairs.contains((a, b)) || contPairs.contains((b, a)),
        s"jaccard pair ($a,$b) missing from containment output")
    }
    // golden: a 30-token quote inside a long document — containment 1.0
    // where jaccard is far below threshold (the operator's reason to exist)
    val quote = (1 to 32).map(i => s"tok$i").mkString(" ")
    val long = quote + " " + (100 to 400).map(i => s"w$i").mkString(" ")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_containment").getAbsolutePath
    Seq((1L, quote, "en", "web", quote.length.toLong),
        (2L, long, "en", "web", long.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val g = queries.Dedup.containmentPairs(spark, dir).collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("contained") == 1L &&
      g.head.getAs[Long]("container") == 2L &&
      g.head.getAs[Double]("containment") == 1.0)
    assert(queries.Dedup.ngramJaccardPairs(spark, dir).count() == 0,
      "jaccard should miss the size-mismatched quote pair")
  }

  test("containment_pairs_sketch: precision 1 vs exact; recall pinned; golden quote found") {
    import spark.implicits._
    val exact = queries.Dedup.containmentPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("contained"), r.getAs[Long]("container"))
        -> (r.getAs[Long]("n_common"), r.getAs[Double]("containment"))).toMap
    val sk = queries.Dedup.containmentPairsSketch(spark, sf).collect()
    // PRECISION 1 by construction: every sketch row is exact-verified, so
    // it must appear in the exact output with identical values
    sk.foreach { r =>
      val key = (r.getAs[Long]("contained"), r.getAs[Long]("container"))
      assert(exact.contains(key), s"sketch pair $key not in exact output")
      assert(exact(key) == ((r.getAs[Long]("n_common"), r.getAs[Double]("containment"))),
        s"sketch values for $key differ from exact")
    }
    // RECALL pin vs the exact twin (measured 1.0 at the fixture — every
    // fixture doc has < k = 128 shingles so the sketch IS the full set
    // and the 0.5 admission only prunes sub-threshold pairs); pin at
    // >= 0.9 so a sketch/estimator regression fails loudly here
    val recall = if (exact.isEmpty) 1.0 else sk.length.toDouble / exact.size
    info(s"containment sketch recall vs exact = $recall (${sk.length}/${exact.size})")
    assert(recall >= 0.9, s"sketch recall $recall below 0.9")
    // golden: the quote-in-a-big-doc geometry survives the sketch path
    // (reuses the corpus written by the exact test when run in order;
    // rewrite it here so the test is self-contained)
    val quote = (1 to 32).map(i => s"tok$i").mkString(" ")
    val long = quote + " " + (100 to 400).map(i => s"w$i").mkString(" ")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_containment_sk").getAbsolutePath
    Seq((1L, quote, "en", "web", quote.length.toLong),
        (2L, long, "en", "web", long.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val g = queries.Dedup.containmentPairsSketch(spark, dir).collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("contained") == 1L &&
      g.head.getAs[Long]("container") == 2L &&
      g.head.getAs[Double]("containment") == 1.0)
  }

  test("containment_pairs_sketch: regime rides every output row (df_saturated visible)") {
    import spark.implicits._
    // on the fixture the sketch is in its healthy regime — every pair
    // row says so
    val sk = queries.Dedup.containmentPairsSketch(spark, sf).collect()
    assert(sk.nonEmpty && sk.forall(_.getAs[String]("regime") == "ok"))
    // a vocabulary-exhausted shard: 20 identical filler docs whose
    // shingles all exceed the df cap + the golden quote pair with rare
    // content — pairs still emit, but every row now carries the
    // df_saturated flag, so the blind regime cannot be consumed unseen
    val quote = (1 to 32).map(i => s"tok$i").mkString(" ")
    val long = quote + " " + (100 to 400).map(i => s"w$i").mkString(" ")
    val filler = (1 to 40).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, quote, "en", "web", quote.length.toLong),
      (2L, long, "en", "web", long.length.toLong)) ++
      (10L until 30L).map(i => (i, filler, "en", "web", filler.length.toLong))
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_containment_regime").getAbsolutePath
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val g = queries.Dedup.containmentPairsSketch(spark, dir, maxDf = 5).collect()
    assert(g.nonEmpty, "the rare-content pair must still be found")
    assert(g.forall(_.getAs[String]("regime") == "df_saturated"),
      g.map(_.toString).mkString(", "))
    assert(g.exists(r => r.getAs[Long]("contained") == 1L &&
      r.getAs[Long]("container") == 2L))
    // the standalone coverage readout agrees on the verdict
    val cov = queries.Dedup.containmentSketchCoverage(spark, dir, maxDf = 5).head()
    assert(cov.getAs[String]("regime") == "df_saturated")
  }

  test("containment_sketch_coverage: fixture is 'ok'; saturated df cap flags the regime") {
    val r = queries.Dedup.containmentSketchCoverage(spark, sf).head()
    val nDocs = Tables.documents(spark, sf).count()
    assert(r.getAs[Long]("n_docs") == nDocs)
    assert(r.getAs[Long]("n_covered") <= nDocs)
    assert(r.getAs[String]("regime") == "ok", r.toString)
    assert(r.getAs[Double]("coverage") >= 0.9)
    assert(r.getAs[Double]("avg_k_rare") <= r.getAs[Long]("sketch_k").toDouble)
    // force df saturation: cap below the fixture's common shingle dfs —
    // the readout must announce the blind regime, not report ok
    val sat = queries.Dedup.containmentSketchCoverage(spark, sf, maxDf = 0)
      .head()
    assert(sat.getAs[String]("regime") == "df_saturated", sat.toString)
    assert(sat.getAs[Long]("n_covered") == 0L)
  }

  test("dedup_method_agreement: cells partition the corpus and match the pair frames") {
    val r = queries.Dedup.dedupMethodAgreement(spark, sf).head()
    val total = Tables.documents(spark, sf).count()
    assert(r.getAs[Long]("n_docs") == total)
    assert(r.getAs[Long]("both_dup") + r.getAs[Long]("minhash_only") +
      r.getAs[Long]("simhash_only") + r.getAs[Long]("neither") == total)
    // flagged-doc masses reconcile with the two pair queries directly
    val mhDocs = queries.Dedup.minhashLshDedup(spark, sf).collect()
      .flatMap(p => Seq(p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"))).toSet
    val shDocs = queries.Dedup.simhashDedup(spark, sf).collect()
      .flatMap(p => Seq(p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"))).toSet
    assert(r.getAs[Long]("both_dup") == (mhDocs & shDocs).size)
    assert(r.getAs[Long]("minhash_only") == (mhDocs -- shDocs).size)
    assert(r.getAs[Long]("simhash_only") == (shDocs -- mhDocs).size)
    val k = r.getAs[Double]("kappa")
    assert(k >= -1.0 && k <= 1.0)
  }

  test("dup_cluster_size_dist: bands partition the corpus; reconciles dedup_stats") {
    val rows = queries.Dedup.dupClusterSizeDist(spark, sf).collect()
      .sortBy(_.getAs[Int]("band"))
    assert(rows.nonEmpty)
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    // band geometry: bit-length bands, min_size = 2^(band-1), and the
    // singleton band counts clusters == docs
    rows.foreach { r =>
      val band = r.getAs[Int]("band")
      assert(band >= 1)
      assert(r.getAs[Long]("min_size") == (1L << (band - 1)))
      assert(r.getAs[Long]("n_clusters") > 0)
      if (band == 1)
        assert(r.getAs[Long]("n_clusters") == r.getAs[Long]("n_docs"))
      else
        assert(r.getAs[Long]("n_docs") >= r.getAs[Long]("n_clusters") *
          r.getAs[Long]("min_size"))
    }
    // dup mass reconciles with the dedup_stats six-pack
    val stats = queries.Dedup.dedupStats(spark, sf).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    val dupDocs = rows.filter(_.getAs[Int]("band") >= 2)
      .map(_.getAs[Long]("n_docs")).sum
    assert(dupDocs == stats("near_dup_docs"))
    val dupClusters = rows.filter(_.getAs[Int]("band") >= 2)
      .map(_.getAs[Long]("n_clusters")).sum
    assert(dupClusters == stats("near_dup_clusters"))
  }

  test("dedup_threshold_curve discriminates engineered overlap levels") {
    import spark.implicits._
    // three pairs with controlled trigram jaccard: shared prefix of 200
    // tokens + distinct suffixes of length s per side gives
    // j = 198 / (198 + 2s + 2): s=80 -> 0.553, s=40 -> 0.712, s=5 -> 0.952
    // (the sf fixture is bimodal — every near-dup sits >= 0.9 — so the
    // curve's per-tau discrimination needs this constructed corpus)
    def doc(pair: Int, side: Char, suffix: Int): String =
      ((1 to 200).map(i => s"p${pair}t$i") ++
        (1 to suffix).map(i => s"s$pair$side$i")).mkString(" ")
    val docs = Seq(
      (10L, doc(1, 'a', 80)), (11L, doc(1, 'b', 80)),   // j ~ 0.553
      (20L, doc(2, 'a', 40)), (21L, doc(2, 'b', 40)),   // j ~ 0.712
      (30L, doc(3, 'a', 5)), (31L, doc(3, 'b', 5)))     // j ~ 0.952
      .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_thresh_curve").getAbsolutePath
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val curve = queries.Dedup.dedupThresholdCurve(spark, dir).collect()
      .map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(curve(0.5) == ((3L, 6L, 1.0)))
    assert(curve(0.6) == ((2L, 4L, 0.666667)))
    assert(curve(0.7) == ((2L, 4L, 0.666667)))
    assert(curve(0.8) == ((1L, 2L, 0.333333)))
    assert(curve(0.9) == ((1L, 2L, 0.333333)))
  }

  test("dedup_consensus: refines simhash clusters, one canonical keep per cluster") {
    val cons = queries.Dedup.dedupConsensus(spark, sf).collect()
    assert(cons.nonEmpty)
    // canonical is the cluster min and the only keep
    cons.groupBy(_.getAs[Long]("canonical_id")).foreach { case (cid, ms) =>
      assert(ms.map(_.getAs[Long]("doc_id")).min == cid)
      assert(ms.count(_.getAs[Boolean]("keep")) == 1)
      assert(ms.forall(_.getAs[Long]("n_members") == ms.length))
    }
    // consensus edges are a subset of simhash edges, so every consensus
    // cluster must sit inside ONE simhash cluster (a refinement)
    val simhash = queries.Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    cons.groupBy(_.getAs[Long]("canonical_id")).foreach { case (_, ms) =>
      val parents = ms.map(m => simhash(m.getAs[Long]("doc_id"))).distinct
      assert(parents.length == 1, s"consensus cluster spans $parents")
    }
    // and it is more conservative: no more flagged docs than either layer
    assert(cons.length <= simhash.size)
  }

  test("persistent substrate sinks: content-keyed dirs under the opt-in root, results unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graft_subst_").toString
    def mkCorpus(tag: String, texts: Seq[(Long, String)]): String = {
      val dir = java.nio.file.Paths.get("target", "test-scratch",
        s"subst_$tag").toAbsolutePath.toString
      texts.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(dir + "/documents.parquet")
      dir
    }
    val base = Seq(
      0L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      1L -> "one two three four five six seven eight nine ten",
      2L -> "lorem ipsum dolor sit amet consectetur adipiscing elit sed do")
    // shard doc 9 duplicates base doc 0 -> the gate must reject it
    val a = mkCorpus("a", base ++ Seq(
      9L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      19L -> "totally fresh unseen words nowhere else in this corpus here"))
    val b = mkCorpus("b", base.map { case (id, t) => id -> (t + " shifted") })
    // session-mode result first (prop unset): the behavioral baseline
    val want = queries.Dedup.dedupGateReplay(spark, a).collect().map(_.toString).toSeq
    sys.props("graft.substrate.dir") = root
    try {
      val got = queries.Dedup.dedupGateReplay(spark, a).collect().map(_.toString).toSeq
      assert(got == want, "persistent-mode ledger differs from session-mode")
      assert(got.exists(_.contains("true")), "the injected base dup must reject")
      queries.Dedup.dedupGateReplay(spark, b).collect()
      val sinks = new java.io.File(root).listFiles().map(_.getName).toSeq
        .filter(_.startsWith("graft_dgate10_")).sorted
      assert(sinks.size == 2, s"distinct corpora must get distinct keys: $sinks")
      assert(sinks.forall(s => new java.io.File(new java.io.File(root, s),
        "_GRAFT_SCHEMA.json").exists()), "schema sidecar missing")
      assert(!sinks.exists(_.contains(".build.")), "build temp leaked")
    } finally { sys.props.remove("graft.substrate.dir"): Unit }
  }

  test("derivedBandGeometry: fixture geometry below 1M; recall law holds above") {
    // fixture regime: byte-identical to the historical fixed geometry
    Seq(0L, 1L, 5000L, 60000L, 1000000L).foreach { n =>
      assert(queries.Dedup.derivedBandGeometry(n) == ((4, 32)), s"n=$n")
    }
    // derived regime: +1 row per doubling, capped; b minimal for the
    // 1e-7 miss budget at j = 0.8 — (1-0.8^r)^b <= 1e-7 < (1-0.8^r)^(b-1)
    val pts = Seq(1000001L -> 5, 2000001L -> 6, 4000001L -> 7, 8000001L -> 8,
      100000000L -> 8 /* MaxBandRows cap */ )
    pts.foreach { case (n, expR) =>
      val (r, b) = queries.Dedup.derivedBandGeometry(n)
      assert(r == expR, s"n=$n r=$r")
      val miss = math.pow(1.0 - math.pow(0.8, r), b)
      assert(miss <= 1e-7, s"n=$n miss=$miss")
      assert(math.pow(1.0 - math.pow(0.8, r), b - 1) > 1e-7, s"n=$n b=$b not minimal")
    }
    // monotone rows, never narrower than the fixture geometry
    val rs = (0 to 30).map(i => queries.Dedup.derivedBandGeometry(1L << i)._1)
    assert(rs == rs.sorted && rs.forall(_ >= 4))
  }

  test("wide-geometry kernel: exact recall on the fixture at a forced derived geometry") {
    // verify() output is always a SUBSET of the exact pair set (exact
    // jaccard filter), so count equality proves set equality: the
    // independent-row kernel at a wide geometry loses no true pair.
    val exact = queries.Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").count()
    val st = queries.Dedup.minhashGeometryStats(spark, sf, Some((6, 54)))
    assert(st("verified_pairs") == exact)
    assert(st("band_rows") == 6L && st("num_bands") == 54L)
    assert(st("bucket_pairs") >= st("cand_pairs")) // enumeration ⊇ survivors
    assert(exact > 0)
  }
}
