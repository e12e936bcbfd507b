package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input robustness: the fixture corpora are healthy, so these
  * tests build tiny synthetic parquet fixtures (same schemas) covering
  * what 100 TB of real data WILL contain — empty texts, separator-only
  * texts, sub-k-gram texts, exact duplicates, empty tables — and assert
  * the operators degrade gracefully instead of throwing or mis-counting. */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Write a throwaway fixture dir with documents + embeddings parquet. */
  private def fixture(name: String,
                      docs: Seq[(Long, String, String, String, Long)],
                      embs: Seq[(Long, Seq[Float], Int)]): String = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_edge_$name").getAbsolutePath
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val edge: String = fixture("mixed",
    docs = Seq(
      (1L, "", "en", "web", 0L),                             // empty text
      (2L, "!!! ??? ...", "en", "web", 11L),                 // separators only
      (3L, "hello", "en", "web", 5L),                        // single token
      (4L, "ab cd", "en", "web", 5L),                        // shorter than k-gram k=8
      (5L, "the quick brown fox jumps over the lazy dog again", "en", "web", 49L),
      (6L, "the quick brown fox jumps over the lazy dog again", "en", "web", 49L)), // exact dup
    embs = Seq(
      (1L, Seq.fill(64)(0.5f), 0),
      (2L, Seq.fill(64)(0.5f), 0),                           // cosine-identical to 1
      (3L, (0 until 64).map(i => if (i % 2 == 0) 1f else -1f), 1)))

  private lazy val empty: String =
    fixture("empty", docs = Seq.empty, embs = Seq.empty)

  test("wordcount: empty and separator-only docs contribute nothing") {
    val rows = queries.TextJobs.wordcount(spark, edge).collect()
    val total = rows.map(_.getAs[Long]("cnt")).sum
    // 1 + 5 + 2 + 2*10 tokens from docs 3,4,5,6
    assert(total == 23)
    assert(!rows.exists(_.getAs[String]("word").isEmpty))
  }

  test("doc_fingerprint: sub-k-gram docs yield zero kgrams and null min/max") {
    val rows = queries.TextAnalysis.docFingerprint(spark, edge).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1L, 2L, 4L).foreach { id =>
      // normalized "ab cd" is 5 chars < k=8; "" and separators normalize to ""/short
      assert(byId(id).getAs[Int]("n_kgrams") == 0, s"doc $id")
      assert(byId(id).getAs[Int]("n_fingerprints") == 0)
      assert(byId(id).isNullAt(byId(id).fieldIndex("fp_min")))
    }
    assert(byId(5L).getAs[Int]("n_kgrams") > 0)
    assert(byId(5L).getAs[Long]("fp_min") == byId(6L).getAs[Long]("fp_min"))
  }

  test("quality_gate: zero-token docs gate as too_short, not crash") {
    val rows = queries.TextAnalysis.qualityGate(spark, edge).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      assert(byId(id).getAs[String]("reason") == "too_short")
      assert(!byId(id).getAs[Boolean]("keep"))
    }
  }

  test("repetition_score: zero-token docs score zero everywhere") {
    val rows = queries.TextAnalysis.repetitionScore(spark, edge).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1L, 2L).foreach { id =>
      assert(byId(id).getAs[Int]("n_tokens") == 0)
      assert(byId(id).getAs[Long]("top_token_cnt") == 0)
      assert(byId(id).getAs[Double]("dup_bigram_frac") == 0.0)
      assert(byId(id).getAs[Double]("top_token_frac") == 0.0)
    }
    // doc 5 repeats "the": top count 2 of 10 tokens
    assert(byId(5L).getAs[Long]("top_token_cnt") == 2)
  }

  test("exact_dedup: dup pair collapses; blank-normalized docs dedup together") {
    val rows = queries.Dedup.exactDedup(spark, edge).collect()
    val byHash = rows.groupBy(_.getAs[String]("content_hash"))
    // docs 1 ("") and 2 (separators only) both normalize to "" — they form
    // one group, exactly like the all-boilerplate docs of a real crawl
    val blankGroup = byHash.values.find(_.exists(_.getAs[Long]("doc_id") == 1L)).get
    assert(blankGroup.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 2L))
    val dupGroup = byHash.values.find(_.exists(_.getAs[Long]("doc_id") == 5L)).get
    assert(dupGroup.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(5L, 6L))
    byHash.values.foreach(g => assert(g.count(_.getAs[Boolean]("is_canonical")) == 1))
  }

  test("dedup_clusters: exact dups cluster; empty corpus yields empty output") {
    val rows = queries.Dedup.dedupClusters(spark, edge).collect()
    val pair = rows.filter(r => Set(5L, 6L).contains(r.getAs[Long]("doc_id")))
    assert(pair.length == 2 && pair.forall(_.getAs[Long]("canonical_id") == 5L))
    assert(queries.Dedup.dedupClusters(spark, empty).collect().isEmpty)
  }

  test("embedding_cosine_dedup: identical vectors pair up; empty/tiny corpora survive") {
    val pairs = queries.Dedup.embeddingCosineDups(spark, edge).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("vec_a") == 1L && pairs.head.getAs[Long]("vec_b") == 2L)
    assert(pairs.head.getAs[Double]("cosine") == 1.0)
    assert(queries.Dedup.embeddingCosineDups(spark, empty).collect().isEmpty)
  }

  test("sequence_pack: every doc packed exactly once, zero-token docs included") {
    val rows = queries.TextAnalysis.sequencePack(spark, edge).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(queries.TextAnalysis.sequencePack(spark, empty).collect().isEmpty)
  }

  test("minhash and ngram-jaccard find exactly the duplicate pair; blanks never pair") {
    Seq(
      queries.Dedup.minhashLshDedup(spark, edge),
      queries.Dedup.ngramJaccardPairs(spark, edge)
    ).foreach { df =>
      val pairs = df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(pairs == Set((5L, 6L)),
        s"expected only the exact-dup pair, got $pairs")
    }
  }

  test("contamination_check: frequency cap drops boilerplate fps, keeps real leakage") {
    // pick doc_ids whose split bucket is known (same md5 bucket as the query)
    val buckets = spark.range(0, 300)
      .select(col("id"), queries.Temporal.bucketCol(col("id")).as("b"))
      .as[(Long, Int)].collect().toMap
    val testId = (0L until 300L).find(buckets(_) < 5).get
    val trainIds = (0L until 300L).filter(buckets(_) >= 10).take(6)
    val boiler = "all rights reserved by the site owner always"         // 8 tokens → 1 shingle
    val genuine = "the secret answer to the evaluation question is"     // 8 tokens → 1 shingle
    // test doc = boiler + genuine (16 tokens → 9 shingles: 1 boiler, 1
    // genuine, 7 unique boundary-spanning); 5 train docs of pure
    // boilerplate (df(boiler)=6), 1 train doc with the leaked sentence
    // (df(genuine)=2)
    val docs = ((testId, boiler + " " + genuine) +:
      trainIds.take(5).map(id => (id, boiler))) :+ (trainIds(5), genuine)
    val dir = fixture("contam_cap",
      docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) },
      embs = Seq.empty)
    def row(maxDf: Int) = {
      val rows = queries.TextAnalysis.contaminationCheck(spark, dir, maxDf).collect()
      assert(rows.length == 1 && rows.head.getAs[Long]("doc_id") == testId)
      rows.head
    }
    val uncapped = row(1000)   // default cap: nothing hot at this size
    assert(uncapped.getAs[Long]("n_fps") == 9)
    assert(uncapped.getAs[Long]("n_shared_fps") == 2)    // boiler + genuine
    assert(uncapped.getAs[Long]("n_train_docs") == 6)
    val capped = row(3)        // df(boiler)=6 > 3 → dropped; df(genuine)=2 → kept
    assert(capped.getAs[Long]("n_fps") == 9)             // denominator uncapped
    assert(capped.getAs[Long]("n_shared_fps") == 1)
    assert(capped.getAs[Long]("n_train_docs") == 1)
  }

  test("part_affinity: mega-order basket is capped, genuine pairs unaffected") {
    // one adversarial 10k-part order (uncapped: C(10k,2) ≈ 50M pairs from
    // ONE task) + two normal orders sharing a genuine pair
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_edge_affinity").getAbsolutePath
    val mega = (0 until 10000).map(i => (1L, 100000L + i))
    val normal = Seq((2L, 1L), (2L, 2L), (3L, 1L), (3L, 2L))
    (mega ++ normal).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = queries.Relational.partAffinity(spark, dir, topN = 50000).collect()
    // the genuinely repeated pair ranks first
    assert(rows.head.getAs[Long]("part_a") == 1L)
    assert(rows.head.getAs[Long]("part_b") == 2L)
    assert(rows.head.getAs[Long]("n_orders") == 2L)
    // mega-order contributes C(256,2) pairs (its 256 SMALLEST partkeys),
    // not C(10000,2)
    assert(rows.length == 256 * 255 / 2 + 1)
    val megaPairs = rows.filter(_.getAs[Long]("part_a") >= 100000L)
    assert(megaPairs.forall(r => r.getAs[Long]("part_b") <= 100255L))
    // a tighter cap tightens the bound: first pair per basket only
    val tight = queries.Relational
      .partAffinity(spark, dir, topN = 50000, maxBasket = 2).collect()
    assert(tight.length == 2)
  }

  test("asof_join_orders_salted: empty events and point-span corpora survive") {
    import java.sql.Timestamp
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_edge_asof").getAbsolutePath
    // empty events, non-empty orders: the global-span agg returns NULLs
    // and the range arithmetic must not divide by zero
    Seq.empty[(Long, Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq((10L, 1L, Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assert(queries.Temporal.asofJoinOrdersSalted(spark, dir).collect().isEmpty)
    // every event at ONE timestamp (span collapses to a point): all rows
    // clamp into range 0 and the output still matches the single-pass
    val t = Timestamp.valueOf("2024-06-01 12:00:00")
    Seq((1L, t, 1L, "view", 0.0, "{}"), (2L, t, 2L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val salted = queries.Temporal.asofJoinOrdersSalted(spark, dir).collect().toSeq
    assert(salted == queries.Temporal.asofJoinOrders(spark, dir).collect().toSeq)
    // user 1 has a prior order; user 2 has none -> null enrichment
    val byId = salted.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Long]("o_orderkey") == 10L)
    assert(byId(2L).isNullAt(byId(2L).fieldIndex("o_orderkey")))
  }

  test("winnow_overlap, token_pmi, vocab_growth degrade gracefully on edge corpora") {
    // only docs 5/6 have >= K normalized chars AND duplicate content:
    // the one pair, full containment; blank/short docs never appear
    val ov = queries.TextAnalysis.winnowOverlap(spark, edge).collect()
    assert(ov.length == 1)
    assert(ov.head.getAs[Long]("doc_a") == 5L && ov.head.getAs[Long]("doc_b") == 6L)
    assert(ov.head.getAs[Double]("containment") == 1.0)
    assert(ov.head.getAs[Long]("n_shared") == ov.head.getAs[Long]("n_a"))
    // support floor (50) exceeds anything a 6-doc corpus can produce
    assert(queries.TextAnalysis.tokenPmi(spark, edge).collect().isEmpty)
    // empty corpora yield empty frames, not crashes
    assert(queries.TextAnalysis.winnowOverlap(spark, empty).collect().isEmpty)
    assert(queries.TextAnalysis.tokenPmi(spark, empty).collect().isEmpty)
    assert(queries.TextAnalysis.vocabGrowth(spark, empty).collect().isEmpty)
    assert(queries.TextAnalysis.bpePairCounts(spark, empty).collect().isEmpty)
    // bpe pairs: single-char and blank docs contribute nothing; "hello"
    // contributes he/el/ll/lo once each
    val bpe = queries.TextAnalysis.bpePairCounts(spark, edge).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n_occurrences")).toMap
    Seq("he", "el", "ll", "lo").foreach(p => assert(bpe(p) >= 1L, s"pair $p"))
    assert(!bpe.contains("a "))
    // growth curve telescopes on the tiny corpus too
    val vg = queries.TextAnalysis.vocabGrowth(spark, edge).collect()
    val toks = queries.TextJobs.wordcount(spark, edge).collect()
    assert(vg.map(_.getAs[Long]("n_new_types")).sum == toks.length)
    assert(vg.map(_.getAs[Long]("n_occurrences")).sum ==
      toks.map(_.getAs[Long]("cnt")).sum)
  }

  test("bpe_train: degenerate corpora terminate; merge counts are sound") {
    // empty corpus and a corpus whose only token is one char: no pairs,
    // the loop stops on round 1 with an empty (correctly-typed) frame
    assert(queries.TextAnalysis.bpeTrain(spark, empty).collect().isEmpty)
    val oneTok = fixture("onetok", docs = Seq((1L, "a a a", "en", "web", 5L)),
      embs = Seq.empty)
    assert(queries.TextAnalysis.bpeTrain(spark, oneTok).collect().isEmpty)
    // edge corpus, hand-computed round 1: "he" = 4 (from "the"×4) + 1
    // (from "hello") = 5, strictly above every other pair
    val m = queries.TextAnalysis.bpeTrain(spark, edge, nMerges = 3).collect()
    assert(m.length == 3)
    assert(m.map(_.getAs[Int]("merge_rank")).toSeq == Seq(1, 2, 3))
    assert(m.head.getAs[String]("sym_a") == "h" &&
      m.head.getAs[String]("sym_b") == "e" &&
      m.head.getAs[Long]("n_occurrences") == 5L)
    // the best-pair count can never rise across rounds: a merged symbol's
    // new pairs inherit at most the merged pair's support
    val ns = m.map(_.getAs[Long]("n_occurrences")).toSeq
    assert(ns.zip(ns.tail).forall { case (x, y) => x >= y })
  }

  test("para_dedup: duplicate doc retains nothing; stats reconcile; empty corpus empty") {
    val rows = queries.Dedup.paraDedup(spark, edge).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // docs 1,2 tokenize to nothing -> absent; docs 3,4,5,6 each have one
    // <=16-token paragraph; 5 and 6 are identical so 6 retains nothing
    assert(!rows.contains(1L) && !rows.contains(2L))
    assert(rows(5L).getAs[Long]("n_retained") == 1L)
    assert(rows(6L).getAs[Long]("n_retained") == 0L)
    assert(rows(6L).getAs[Double]("retained_frac") == 0.0)
    assert(rows(3L).getAs[Double]("retained_frac") == 1.0)
    // per-doc retained sums to the corpus distinct-paragraph count
    val st = queries.Dedup.paraDedupStats(spark, edge).collect().head
    assert(rows.values.map(_.getAs[Long]("n_retained")).sum ==
      st.getAs[Long]("n_distinct"))
    assert(rows.values.map(_.getAs[Long]("n_paras")).sum ==
      st.getAs[Long]("n_paras"))
    assert(queries.Dedup.paraDedup(spark, empty).collect().isEmpty)
  }

  test("substring_dedup: unaligned passage caught, runs merged, short docs zero") {
    val p = (0 until 16).map(i => s"p$i").mkString(" ")  // 16-token passage
    val q = (0 until 20).map(i => s"q$i").mkString(" ")  // 20-token passage
    val dir = fixture("sub",
      docs = Seq(
        (1L, "one two three four five six seven eight nine ten", "en", "web", 0L), // 10 toks < window
        (2L, s"x1 x2 x3 $p", "en", "web", 0L),             // passage at offset 3
        (3L, s"y1 y2 y3 y4 y5 y6 y7 $p", "en", "web", 0L), // SAME passage at offset 7
        (4L, q, "en", "web", 0L),                          // 20-token passage, original
        (5L, s"r1 r2 $q", "en", "web", 0L)),               // duplicated at offset 2
      embs = Seq((1L, Seq.fill(64)(0.5f), 0)))
    val rows = queries.Dedup.substringDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: shorter than one window — present, nothing removable
    assert(rows(1L).getAs[Long]("n_windows") == 0L)
    assert(rows(1L).getAs[Long]("removable_tokens") == 0L)
    assert(rows(1L).getAs[Double]("removable_frac") == 0.0)
    // doc 3's copy of the passage sits at offset 7 vs doc 2's offset 3 —
    // NO tile alignment exists, so para_dedup is blind to it...
    val para = queries.Dedup.paraDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("retained_frac")).toMap
    assert(para(3L) == 1.0, "para_dedup should MISS the unaligned passage")
    // ...but the sliding window catches exactly the 16 passage tokens
    assert(rows(2L).getAs[Long]("n_dup_windows") == 0L)
    assert(rows(3L).getAs[Long]("n_dup_windows") == 1L)
    assert(rows(3L).getAs[Long]("removable_tokens") == 16L)
    // doc 5: five overlapping dup windows merge into ONE 20-token run
    assert(rows(5L).getAs[Long]("n_dup_windows") == 5L)
    assert(rows(5L).getAs[Long]("removable_tokens") == 20L)
    assert(rows(4L).getAs[Long]("removable_tokens") == 0L)
    assert(queries.Dedup.substringDedup(spark, empty).collect().isEmpty)
  }

  test("substring_dedup stride: 1/stride frame, aligned dups kept, misaligned priced") {
    val q = (0 until 20).map(i => s"q$i").mkString(" ")
    val z = (0 until 40).map(i => s"z$i").mkString(" ")
    val dir = fixture("substride",
      docs = Seq(
        (4L, q, "en", "web", 0L),            // 20-token original
        (5L, s"r1 r2 $q", "en", "web", 0L),  // copy at offset 2 (misaligned mod 4)
        (6L, z, "en", "web", 0L),            // 40-token original
        (7L, z, "en", "web", 0L)),           // whole-doc dup (aligned at 0)
      embs = Seq((1L, Seq.fill(64)(0.5f), 0)))
    val s4 = queries.Dedup.substringDedup(spark, dir, stride = 4).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // sampled window count: ((n-16) div 4) + 1
    assert(s4(4L).getAs[Long]("n_windows") == 2L)   // 20 toks: s in {0,4}
    assert(s4(7L).getAs[Long]("n_windows") == 7L)   // 40 toks: s in {0..24 by 4}
    // whole-doc dup aligned at offset 0: all sampled windows dup, the run
    // merge recovers the FULL 40-token mass — stride costs no recall here
    assert(s4(7L).getAs[Long]("n_dup_windows") == 7L)
    assert(s4(7L).getAs[Long]("removable_tokens") == 40L)
    // offset-2 copy: run-relative offsets hit s=2 mod 4 — off the sampled
    // grid on both sides, so stride 4 misses it (the documented exactness
    // price; stride 1 catches it at full 20-token mass)
    assert(s4(5L).getAs[Long]("n_dup_windows") == 0L)
    val s1 = queries.Dedup.substringDedup(spark, dir, stride = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(s1(5L).getAs[Long]("removable_tokens") == 20L)
    assert(s1(7L).getAs[Long]("removable_tokens") == 40L)
    assert(queries.Dedup.substringDedup(spark, empty, 16).collect().isEmpty)
  }

  test("bpe_apply: bounds hold; merges only ever shrink the symbol stream") {
    assert(queries.TextAnalysis.bpeApply(spark, empty).collect().isEmpty)
    val rows = queries.TextAnalysis.bpeApply(spark, edge, nMerges = 3).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTok = r.getAs[Long]("n_tokens")
      val nChr = r.getAs[Long]("n_chars")
      val nSym = r.getAs[Long]("n_bpe_symbols")
      // every token is >= 1 symbol; unmerged chars are the upper bound
      assert(nSym >= nTok && nSym <= nChr, s"bounds: $nTok <= $nSym <= $nChr")
      val expect = math.floor(nSym.toDouble / nTok * 1e6 + 0.5) / 1e6
      assert(r.getAs[Double]("syms_per_token") == expect)
    }
    // more merges can only shrink (or hold) each doc's symbol count
    val m1 = queries.TextAnalysis.bpeApply(spark, edge, nMerges = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe_symbols")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bpe_symbols") <= m1(r.getAs[Long]("doc_id")))
    }
  }

  test("bpe_vocab: symbol mass conserves corpus chars; merged syms flagged") {
    assert(queries.TextAnalysis.bpeVocab(spark, empty).collect().isEmpty)
    val rows = queries.TextAnalysis.bpeVocab(spark, edge, nMerges = 3).collect()
    // round 1 merges (h,e): the merged symbol must surface in the vocab
    assert(rows.exists(r => r.getAs[String]("sym") == "he"))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_merged") == (r.getAs[String]("sym").length > 1))
      assert(r.getAs[Long]("n_occurrences") > 0)
    }
    // conservation: every char of every token occurrence lands in exactly
    // one post-merge symbol
    val symChars = rows.map(r =>
      r.getAs[String]("sym").length * r.getAs[Long]("n_occurrences")).sum
    val tokChars = queries.TextAnalysis.bpeApply(spark, edge, nMerges = 3)
      .collect().map(_.getAs[Long]("n_chars")).sum
    assert(symChars == tokChars)
    // ordering contract: frequency desc, symbol asc
    val keys = rows.map(r => (-r.getAs[Long]("n_occurrences"), r.getAs[String]("sym"))).toSeq
    assert(keys == keys.sorted)
  }

  test("simhash_dedup: duplicate docs collide at hamming 0; blank docs never pair") {
    val rows = queries.Dedup.simhashDedup(spark, edge).collect()
    assert(rows.exists(r => r.getAs[Long]("doc_a") == 5L &&
      r.getAs[Long]("doc_b") == 6L && r.getAs[Int]("hamming") == 0))
    // zero-token docs (1, 2) have no signature at all — emitting sig=0 for
    // them would pair every blank doc with every other (O(blank²)) and
    // diverge from the oracle's unnest, which drops them
    rows.foreach { r =>
      assert(!Set(1L, 2L).contains(r.getAs[Long]("doc_a")))
      assert(!Set(1L, 2L).contains(r.getAs[Long]("doc_b")))
    }
  }

  test("doc_chunk: blank docs chunk to nothing; budget=1 makes one chunk per token") {
    val rows = queries.TextAnalysis.docChunk(spark, edge).collect()
    // empty/separator-only docs (1, 2) yield no chunks at all
    assert(!rows.exists(r => Set(1L, 2L).contains(r.getAs[Long]("doc_id"))))
    // single-token doc -> exactly one chunk of length 1
    val d3 = rows.filter(_.getAs[Long]("doc_id") == 3L)
    assert(d3.length == 1 && d3.head.getAs[Int]("n_chunk_tokens") == 1)
    assert(d3.head.getAs[String]("first_tok") == "hello" &&
      d3.head.getAs[String]("last_tok") == "hello")
    // budget=1, overlap=0: every token becomes its own chunk
    val unit = queries.TextAnalysis.docChunk(spark, edge, budget = 1, overlap = 0)
      .filter(col("doc_id") === 5L).collect()
    assert(unit.length == 10)
    assert(unit.forall(_.getAs[Int]("n_chunk_tokens") == 1))
  }

  test("doc_surprisal: blank docs excluded; empty corpus yields empty output") {
    val rows = queries.TextAnalysis.docSurprisal(spark, edge).collect()
    assert(!rows.exists(r => Set(1L, 2L).contains(r.getAs[Long]("doc_id"))))
    // the two exact-dup docs see identical token streams -> identical nll
    val nll = rows.filter(r => Set(5L, 6L).contains(r.getAs[Long]("doc_id")))
      .map(_.getAs[Long]("nll_micros"))
    assert(nll.length == 2 && nll.distinct.length == 1)
    assert(queries.TextAnalysis.docSurprisal(spark, empty).collect().isEmpty)
  }

  test("mixture_weights: empty corpus yields empty output, single source gets weight 1") {
    assert(queries.TextAnalysis.mixtureWeights(spark, empty).collect().isEmpty)
    val rows = queries.TextAnalysis.mixtureWeights(spark, edge).collect()
    // edge fixture is all one source ("web") -> weight = share = 1, boost = 1
    assert(rows.length == 1)
    assert(math.abs(rows.head.getAs[Double]("weight") - 1.0) < 1e-6)
    assert(math.abs(rows.head.getAs[Double]("boost") - 1.0) < 1e-6)
  }

  test("token_histogram: zero-token docs land in bin 0; empty corpus is empty") {
    val rows = queries.TextAnalysis.tokenHistogram(spark, edge).collect()
    // all 6 edge docs have < 64 tokens -> one bin per source
    assert(rows.length == 1)
    val b = rows.head
    assert(b.getAs[Long]("bin") == 0 && b.getAs[Long]("n_docs") == 6)
    assert(b.getAs[Int]("min_tokens") == 0)  // the empty doc
    assert(b.getAs[Double]("share") == 1.0)
    assert(queries.TextAnalysis.tokenHistogram(spark, empty).collect().isEmpty)
  }

  test("source_divergence: a single-source corpus has exactly zero KL") {
    val rows = queries.TextAnalysis.sourceDivergence(spark, edge).collect()
    assert(rows.length == 1)
    // p_s == p_c for every term -> ln(1) == 0, integerised exactly
    assert(rows.head.getAs[Long]("kl_nanos") == 0L)
    assert(rows.head.getAs[Double]("kl") == 0.0)
    assert(queries.TextAnalysis.sourceDivergence(spark, empty).collect().isEmpty)
  }

  test("quality_percentile_gate: singleton sources keep their only doc") {
    val dir = fixture("singleton",
      docs = Seq(
        (1L, "lonely doc of a tiny source", "en", "solo", 27L),
        (2L, "the quick brown fox jumps over the lazy dog", "en", "big", 44L),
        (3L, "bad", "en", "big", 3L),
        (4L, "the quick brown fox jumps over the lazy dog again", "en", "big", 49L),
        (5L, "worse !!", "en", "big", 8L),
        (6L, "another decent document with several proper tokens", "en", "big", 50L)),
      embs = Seq((1L, Seq.fill(64)(0.5f), 0)))
    val rows = queries.TextAnalysis.qualityPercentileGate(spark, dir, 0.25).collect()
    val solo = rows.filter(_.getString(1) == "solo")
    assert(solo.length == 1 && solo.head.getAs[Boolean]("keep"))
    assert(solo.head.getAs[Double]("pct_rank") == 0.0)
    // the 5-doc source still drops its bottom quartile
    val big = rows.filter(_.getString(1) == "big")
    assert(big.count(!_.getAs[Boolean]("keep")) >= 1)
    assert(queries.TextAnalysis.qualityPercentileGate(spark, empty).collect().isEmpty)
  }

  test("embedding_centroids and centroid_assign on degenerate label geometry") {
    val cent = queries.Similarity.embeddingCentroids(spark, edge).collect()
    // label 0: two identical vectors -> centroid == the vector, exactly
    cent.filter(_.getAs[Int]("label") == 0).foreach { r =>
      assert(r.getAs[Long]("n_vecs") == 2 && r.getAs[Double]("centroid") == 0.5)
    }
    val conf = queries.Similarity.centroidAssign(spark, edge).collect()
    // both labels' vectors sit exactly on their own prototype
    conf.foreach { r =>
      assert(r.getAs[Int]("true_label") == r.getAs[Int]("assigned_label"))
    }
    assert(conf.map(_.getAs[Long]("n")).sum == 3)
    assert(queries.Similarity.centroidAssign(spark, empty).collect().isEmpty)
  }

  test("pipeline_export: a fully-gated corpus exports an empty manifest, not a crash") {
    // every edge doc fails the 20-token gate -> zero files written
    assert(queries.TextAnalysis.pipelineExport(spark, edge).collect().isEmpty)
    assert(queries.TextAnalysis.pipelineExport(spark, empty).collect().isEmpty)
  }

  test("registerViews drops stale views for tables absent from the new corpus") {
    Tables.registerViews(spark, TestSpark.sf)
    assert(spark.catalog.tableExists("orders"))
    // edge fixture has only documents + embeddings: the orders view from
    // the previous corpus must NOT survive and silently serve stale data
    Tables.registerViews(spark, edge)
    assert(!spark.catalog.tableExists("orders"))
    assert(spark.catalog.tableExists("documents"))
    Tables.registerViews(spark, TestSpark.sf)  // restore for other specs
    assert(spark.catalog.tableExists("orders"))
  }

  test("embedding_quantize and q8 top-k: zero vectors are excluded, not divided by") {
    val dir = fixture("zerovec",
      docs = Seq((1L, "x", "en", "web", 1L)),
      embs = Seq(
        (1L, Seq.fill(64)(0f), 0),                 // all-zero: scale 0
        (2L, Seq.fill(64)(0.5f), 0),
        (3L, Seq.fill(64)(-0.5f), 1)))
    val q = queries.Similarity.embeddingQuantize(spark, dir).collect()
    assert(q.map(_.getAs[Long]("vec_id")).toSet == Set(2L, 3L))
    q.foreach { r =>
      assert(r.getAs[Int]("n_sat") == 64)          // constant vectors saturate fully
      assert(r.getAs[Double]("max_err") <= r.getAs[Double]("scale") / 254 + 1e-9)
    }
    val topk = queries.Similarity.quantizedTopK(spark, dir).collect()
    // qid 2 ranks 3 (the only other nonzero vec) at cosine -1; vec 1 never appears
    assert(!topk.exists(r => r.getAs[Long]("vec_id") == 1L))
    val q2 = topk.filter(_.getAs[Long]("qid") == 2L)
    assert(q2.length == 1 && q2.head.getAs[Long]("vec_id") == 3L &&
      math.abs(q2.head.getAs[Double]("qcosine") + 1.0) < 1e-9)
  }

  test("eventsTs: ts normalizes to TimestampType under every fixture encoding") {
    // The r6 fixture re-encoding (TIMESTAMP(NANOS) → timestamp[us]/NTZ)
    // broke 1 query + 8 specs because only the Long branch was handled.
    // Pin all three encodings to the same value AND type so the next
    // re-encoding fails here, loudly, instead of downstream.
    import org.apache.spark.sql.types._
    val usExpected = java.time.Instant.parse("2024-03-01T12:34:56.789123Z")
    def writeTs(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_edge_ts_$name").getAbsolutePath
      df.write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val base = Seq((1L, 7L)).toDF("event_id", "user_id")
    val asLong = writeTs("long", base.withColumn("ts",
      lit(usExpected.getEpochSecond * 1000000000L + usExpected.getNano)))  // epoch nanos
    val asTs = writeTs("tz", base.withColumn("ts",
      lit(usExpected).cast(TimestampType)))
    val asNtz = writeTs("ntz", base.withColumn("ts",
      lit(usExpected).cast(TimestampType).cast(TimestampNTZType)))
    // NTZ written then read back: parquet timestamp[us] without UTC flag —
    // exactly the r6 driver fixture encoding
    assert(Tables.events(spark, asNtz).schema("ts").dataType == TimestampNTZType)
    Seq(asLong, asTs, asNtz).foreach { dir =>
      val df = Tables.eventsTs(spark, dir)
      assert(df.schema("ts").dataType == TimestampType, s"dir=$dir")
      assert(df.select("ts").head().getTimestamp(0).toInstant ==
        usExpected.truncatedTo(java.time.temporal.ChronoUnit.MICROS), s"dir=$dir")
    }
    // the real driver fixture too, whatever encoding it currently uses
    assert(Tables.eventsTs(spark, TestSpark.sf).schema("ts").dataType == TimestampType)
  }

  test("round-7 operators degrade to empty output on empty tables") {
    // documents/embeddings-empty corpus: every curation/PQ/outlier query
    // must return zero rows, not throw (empty init/codebook/histogram)
    assert(queries.Curation.corpusShuffle(spark, empty).count() == 0)
    assert(queries.Curation.tokenBudgetSample(spark, empty).count() == 0)
    assert(queries.Similarity.embeddingPq(spark, empty).count() == 0)
    assert(queries.Similarity.annCosinePq(spark, empty).count() == 0)
    assert(queries.Similarity.embeddingOutliers(spark, empty).count() == 0)
    // events-empty corpus for the sketch pair
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_edge_noevents").getAbsolutePath
    Tables.eventsTs(spark, TestSpark.sf).limit(0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(queries.Temporal.eventsCmsTopk(spark, dir).count() == 0)
    assert(queries.Temporal.eventsValueQuantiles(spark, dir).count() == 0)
  }

  test("round-7/8 composed ANN + graph operators degrade to empty output on empty tables") {
    // the two round-7 stragglers (ADVICE r7) + the round-8 re-rank pair:
    // empty embeddings → empty IVF training set, empty codebook, empty
    // candidate stream — every stage must yield zero rows, not throw
    assert(queries.Similarity.annCosineIvfPq(spark, empty).count() == 0)
    assert(queries.Similarity.kcoreGraph(spark, empty).count() == 0)
    assert(queries.Similarity.embeddingDrift(spark, empty).count() == 0)
    assert(queries.Similarity.knnDelta(spark, empty).count() == 0)
    assert(queries.Similarity.knnComponents(spark, empty).count() == 0)
    assert(queries.Similarity.annCosinePqRerank(spark, empty).count() == 0)
    assert(queries.Similarity.annCosineIvfPqRerank(spark, empty).count() == 0)
    assert(queries.Similarity.knnGraph(spark, empty).count() == 0)
    assert(queries.Dedup.semDedup(spark, empty).count() == 0)
    assert(queries.TextAnalysis.gopherQuality(spark, empty).count() == 0)
    assert(queries.TextAnalysis.piiScrub(spark, empty).count() == 0)
    // empty lineitem → empty co-purchase graph → empty rank table
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_edge_noli").getAbsolutePath
    Tables.lineitem(spark, TestSpark.sf).limit(0)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(queries.Relational.partPagerank(spark, dir).count() == 0)
    assert(queries.Relational.partAffinity(spark, dir).count() == 0)
    // triangle_count is a census: empty graph -> ONE all-zero row
    val tc = queries.Relational.triangleCount(spark, dir).head()
    assert(tc.getAs[Long]("n_edges") == 0 && tc.getAs[Long]("n_triangles") == 0)
    assert(tc.getAs[Double]("transitivity") == 0.0)
    // empty embeddings -> no projected rows, no propagated labels
    assert(queries.Similarity.embeddingRp(spark, empty).count() == 0)
    assert(queries.Similarity.labelPropagation(spark, empty).count() == 0)
  }

  test("hashed-feature LM family degrades on empty/degenerate corpora") {
    // empty corpus: histograms/priors see zero rows, every model term is
    // smoothed — the score passes must return empty, not throw or NaN
    assert(queries.TextAnalysis.dsirWeights(spark, empty).count() == 0)
    assert(queries.TextAnalysis.nbQualityScore(spark, empty).count() == 0)
    assert(queries.TextAnalysis.bigramLmScore(spark, empty).count() == 0)
    // mixed edge corpus: zero-token docs (1, 2) vanish from the unigram
    // scorers; the single-token doc (3) additionally vanishes from the
    // bigram scorer (no bigram positions). All-en corpus → target IS the
    // raw distribution, so every importance weight is EXACTLY zero (the
    // two smoothed models coincide bucket by bucket).
    val dsir = queries.TextAnalysis.dsirWeights(spark, edge).collect()
    assert(dsir.map(_.getAs[Long]("doc_id")).toSet == Set(3L, 4L, 5L, 6L))
    assert(dsir.forall(_.getAs[Long]("logw_micros") == 0))
    // nb emits its four meta-features even for zero-token docs, so EVERY
    // doc appears — the classifier can gate on shape alone
    val nb = queries.TextAnalysis.nbQualityScore(spark, edge).collect()
    assert(nb.map(_.getAs[Long]("doc_id")).toSet == (1L to 6L).toSet)
    val lm = queries.TextAnalysis.bigramLmScore(spark, edge).collect()
    assert(lm.map(_.getAs[Long]("doc_id")).toSet == Set(4L, 5L, 6L))
    // every training bigram was seen (trained and scored on the same
    // corpus) so no backoff fires and each NLL is finite and >= 0
    assert(lm.forall(_.getAs[Long]("nll_micros") >= 0))
  }

  test("token_budget_sample: single-source degenerate corpus keeps the whole prefix") {
    val rows = queries.Curation.tokenBudgetSample(spark, edge).collect()
    assert(rows.length == 6)  // every doc gets a row, zero-token ones too
    // all six docs total ~23 tokens — far under the 800 budget: all kept
    assert(rows.forall(_.getAs[Boolean]("keep")))
    val maxCum = rows.map(_.getAs[Long]("cum_tokens")).max
    assert(maxCum == rows.map(_.getAs[Long]("n_tokens")).sum)
  }

  test("round-8 operators degrade to empty output on empty tables") {
    // empty documents/embeddings: sampler (zero total weight short-
    // circuits), and the three LSH-substrate vector ops
    assert(queries.Curation.weightedSamplePps(spark, empty).count() == 0)
    assert(queries.Similarity.hardNegatives(spark, empty).count() == 0)
    assert(queries.Similarity.knnCoherence(spark, empty).count() == 0)
    assert(queries.Similarity.mmrDiversify(spark, empty).count() == 0)
    // empty events: grid, range join, and interval union all vanish
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_edge_noevents8").getAbsolutePath
    Tables.eventsTs(spark, TestSpark.sf).limit(0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(queries.Temporal.eventsGapFill(spark, dir).count() == 0)
    assert(queries.Temporal.rangeJoinBursts(spark, dir).count() == 0)
    assert(queries.Temporal.intervalUnion(spark, dir).count() == 0)
    assert(queries.Temporal.eventsMadOutliers(spark, dir).count() == 0)
    assert(queries.Temporal.purchaseAttribution(spark, dir).count() == 0)
    assert(queries.Temporal.cohortLtv(spark, dir).count() == 0)
    assert(queries.Similarity.annCosineFiltered(spark, empty).count() == 0)
    // empty part table: the fuzzy join sees no blocks
    val pdir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_edge_nopart").getAbsolutePath
    Tables.part(spark, TestSpark.sf).limit(0)
      .write.mode("overwrite").parquet(s"$pdir/part.parquet")
    assert(queries.Relational.fuzzyJoinParts(spark, pdir).count() == 0)
    assert(queries.Relational.skylineParts(spark, pdir).count() == 0)
    // empty dim side: the bloom builder must short-circuit, not NPE on
    // a null aggregate blob
    val odir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_edge_noorders").getAbsolutePath
    Tables.orders(spark, TestSpark.sf).limit(0)
      .write.mode("overwrite").parquet(s"$odir/orders.parquet")
    Tables.lineitem(spark, TestSpark.sf).limit(2000)
      .write.mode("overwrite").parquet(s"$odir/lineitem.parquet")
    assert(queries.Relational.bloomSemiJoin(spark, odir).count() == 0)
  }

  test("data-quality ops degrade on empty tables: profile keeps its shape, checks all zero") {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_edge_dq_empty").getAbsolutePath
    Seq("orders", "lineitem", "events", "documents", "part", "customer")
      .foreach { t =>
        Tables(spark, TestSpark.sf, t).limit(0)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    // profile still emits one row per column; counts zero, min/max null
    val prof = queries.Relational.tableProfile(spark, dir).collect()
    assert(prof.length == 6)
    assert(prof.forall(r => r.getAs[Long]("n_rows") == 0 &&
      r.getAs[Long]("n_nulls") == 0 && r.getAs[Long]("n_distinct") == 0 &&
      r.getAs[String]("min_s") == null && r.getAs[String]("max_s") == null))
    // every check still reports, with zero violations (anti joins included)
    val dq = queries.Relational.dqViolations(spark, dir).collect()
    assert(dq.length == 9 && dq.forall(_.getAs[Long]("n_bad") == 0))
    // empty inputs: no seasonal profile rows, no SCD2 intervals, and the
    // MV refresh survives a null max-date (base and delta both empty)
    assert(queries.Temporal.eventsSeasonal(spark, dir).count() == 0)
    assert(queries.Temporal.scd2OrderStatus(spark, dir).count() == 0)
    assert(queries.Relational.mvRefreshIncremental(spark, dir).count() == 0)
    assert(queries.Relational.rfmSegments(spark, dir).count() == 0)
    assert(queries.Relational.revenueCusum(spark, dir).count() == 0)
    assert(queries.Relational.ordersForecastSnaive(spark, dir).count() == 0)
    assert(queries.Relational.zorderOrders(spark, dir).count() == 0)
    // PINNED empty-input contract (r8 ADVICE): both engines emit ZERO
    // rows on empty input — the oracles carry matching n > 0 guards, so
    // a future edit dropping either side breaks here, not in a fixture
    // the hash gate never exercises
    assert(queries.Temporal.eventsWinsorizedStats(spark, dir).count() == 0)
    assert(queries.Relational.revenueParetoShare(spark, dir).count() == 0)
    // the degenerate non-empty corpora: every price NULL (one NULL m_b
    // bucket, in n_cust but in no bar, so both shares divide by zero
    // cents), and every customer tied on one $100 bucket edge
    def pareto(name: String, orders: Seq[(Long, Option[Double])]) = {
      val d = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_edge_pareto_$name").getAbsolutePath
      orders.toDF("o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$d/orders.parquet")
      queries.Relational.revenueParetoShare(spark, d).collect().toSeq
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4)))
    }
    val allNull = pareto("allnull", Seq((1L, None), (1L, None), (2L, None)))
    assert(allNull.map(r => (r._1, r._2, r._3, r._5)) ==
      Seq((0.10, 0L, 0L, 0.0), (0.01, 0L, 0L, 0.0)))
    assert(allNull.forall(_._4.isNaN))
    assert(pareto("alltied", (1L to 5L).map(c => (c, Some(200.0)))) ==
      Seq((0.10, 200L, 5L, 1.0, 1.0), (0.01, 200L, 5L, 1.0, 1.0)))
    assert(queries.TextAnalysis.datasetCard(spark, dir).count() == 0)
    assert(queries.TextAnalysis.readability(spark, dir).count() == 0)
  }

  test("EVERY registered query survives a fully-empty corpus (no throws)") {
    // a 100 TB pipeline WILL see an empty shard/filter result; a query
    // that throws there aborts the job. The r9 empty sweep found three
    // divide-by-zero aborts (events_ab_test, para_dedup_stats,
    // quality_agreement) — this pins the whole registry, forever.
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_edge_allempty").getAbsolutePath
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      spark.read.parquet(s"${TestSpark.sf}/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, dir).count(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage.take(120)}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries throw on empty corpus:\n${failures.mkString("\n")}")
  }

  test("dedup_threshold_curve on an empty corpus emits the full zeroed grid") {
    // the grid LEFT JOIN contract: a tuning curve must keep its shape on
    // an empty shard (5 rows, all zeros), not vanish — downstream
    // threshold pickers index it by tau
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_edge_curve_empty").getAbsolutePath
    spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = queries.Dedup.dedupThresholdCurve(spark, dir).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    rows.foreach { r =>
      assert(r.getLong(1) == 0 && r.getLong(2) == 0 && r.getDouble(3) == 0.0)
    }
  }

  test("EVERY registered query survives a single-row corpus (no throws)") {
    // the other degenerate shard shape: exactly one row per table —
    // catches divide-by-(n−1), single-band histograms, self-join
    // emptiness, windows over one row. Complements the all-empty sweep.
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_edge_onerow").getAbsolutePath
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      spark.read.parquet(s"${TestSpark.sf}/$t.parquet").limit(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, dir).count(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries throw on one-row corpus:\n${failures.mkString("\n")}")
  }

  test("orders_recon: one-sided (month, nation) keys survive the full outer join") {
    import java.sql.Timestamp
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_edge_recon").getAbsolutePath
    // nation 10 bills in Jan (nothing ships); nation 20 ships in Feb
    // (nothing billed); nation 10 both bills and ships in Mar
    Seq((1L, 1L, Timestamp.valueOf("2024-01-15 00:00:00"), 100.0),
        (2L, 1L, Timestamp.valueOf("2024-03-10 00:00:00"), 50.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 10L)).toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((5L, 20L), (6L, 10L)).toDF("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    // Feb line: supplier 5 (nation 20), 30.00 · (1-0.10) · (1+0.05) = 28.35
    // Mar line: supplier 6 (nation 10), 20.00 flat
    Seq((5L, Timestamp.valueOf("2024-02-01 00:00:00"), 30.0, 0.10, 0.05),
        (6L, Timestamp.valueOf("2024-03-20 00:00:00"), 20.0, 0.0, 0.0))
      .toDF("l_suppkey", "l_shipdate", "l_extendedprice", "l_discount", "l_tax")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = queries.Relational.ordersRecon(spark, dir).collect()
    assert(rows.length == 3)
    val bySide = rows.map(r => r.getAs[String]("side") -> r).toMap
    val bo = bySide("billed_only")
    assert(bo.getAs[String]("month") == "2024-01" && bo.getAs[Long]("nation") == 10L)
    assert(bo.getAs[Long]("n_orders") == 1L && bo.getAs[Long]("n_lines") == 0L)
    assert(bo.getAs[Double]("billed") == 100.0 && bo.isNullAt(bo.fieldIndex("shipped")))
    assert(bo.getAs[Double]("delta") == 100.0)
    val so = bySide("shipped_only")
    assert(so.getAs[String]("month") == "2024-02" && so.getAs[Long]("nation") == 20L)
    assert(so.getAs[Long]("n_orders") == 0L && so.getAs[Long]("n_lines") == 1L)
    assert(so.isNullAt(so.fieldIndex("billed")) && so.getAs[Double]("shipped") == 28.35)
    assert(so.getAs[Double]("delta") == -28.35)
    val both = bySide("both")
    assert(both.getAs[String]("month") == "2024-03" && both.getAs[Long]("nation") == 10L)
    assert(both.getAs[Double]("billed") == 50.0 && both.getAs[Double]("shipped") == 20.0)
    assert(both.getAs[Double]("delta") == 30.0)
  }

  /** The hashed-feature models on a corpus with duplicate doc_ids (one
    * exact-duplicate row pair, one pair with different texts and
    * labels), NULL, empty and whitespace-only texts, a doc under the
    * Gopher 20-word floor and a digits-only doc. Every pinned value was
    * printed by the per-row (unfolded) builders these replaced. */
  private lazy val hashedEdge: String = {
    val pass = "the quick brown fox jumps over the lazy dog while the small " +
      "cat sleeps near the warm fire and rain falls outside the old house"
    fixture("hashed",
      docs = Seq(
        (1L, pass, "en", "web", 0L),
        (1L, pass, "en", "web", 0L),                           // exact dup row
        (2L, pass + " again today", "de", "web", 0L),
        (2L, "the cat sat on the mat", "de", "web", 0L),       // dup id, fails
        (3L, null, "en", "web", 0L),                           // NULL text
        (4L, "", "en", "web", 0L),                             // empty
        (5L, "   \t  ", "fr", "web", 0L),                      // whitespace only
        (6L, "the cat sat on the mat", "en", "web", 0L),       // < 20 words
        (7L, "123 456 7890 42", "en", "web", 0L),              // digits only
        (8L, "over the lazy dog the fox jumps and the warm rain falls on the old " +
          "house near the small fire while a cat sleeps", "fr", "web", 0L)),
      embs = Seq.empty)
  }

  test("nb/dsir hashed-feature builders: edge corpus pins (dup ids, NULL/empty/blank, short, digits)") {
    val T = queries.TextAnalysis
    val buckets = T.nbBucketCounts(spark, hashedEdge).orderBy("b").collect()
      .map(r => (0 until r.length).map(r.get).mkString(",")).mkString(";")
    assert(buckets ==
      "296,0,1,117,36;488,4,2,117,36;496,4,0,117,36;580,4,2,117,36;" +
      "789,4,0,117,36;865,3,0,117,36;921,4,0,117,36;998,4,0,117,36;" +
      "1130,3,0,117,36;1204,4,0,117,36;1315,0,3,117,36;1338,0,2,117,36;" +
      "1355,0,2,117,36;1378,1,1,117,36;1465,1,0,117,36;1514,0,3,117,36;" +
      "1577,3,0,117,36;1768,0,1,117,36;2010,0,2,117,36;2089,4,0,117,36;" +
      "2229,0,1,117,36;2233,4,0,117,36;2402,0,1,117,36;2480,0,2,117,36;" +
      "2548,4,0,117,36;2550,1,0,117,36;2716,4,0,117,36;2810,3,0,117,36;" +
      "3073,1,2,117,36;3181,20,4,117,36;3272,4,0,117,36;3293,4,0,117,36;" +
      "3339,4,0,117,36;3383,4,0,117,36;3418,4,0,117,36;3475,0,2,117,36;" +
      "3486,0,2,117,36;3509,4,0,117,36;3543,4,0,117,36;3760,4,0,117,36;" +
      "3765,4,0,117,36;4015,1,0,117,36;4018,0,3,117,36")
    // 4 passing rows (doc 1 twice, doc 2's long text, doc 8), 5 failing
    // (doc 2's short text, empty, blank, short, digits); NULL text in neither
    assert(T.nbPriorCounts(spark, hashedEdge).collect().mkString(";") == "[4,5]")
    assert(T.nbQualityScore(spark, hashedEdge).collect().mkString(";") ==
      "[1,58,84115948,true];[2,41,40825756,true];[4,4,-5229790,false];" +
      "[5,4,-5229790,false];[6,10,-2670847,false];[7,8,-7269103,false];" +
      "[8,28,36728731,true]")
    assert(T.qualityCalibration(spark, hashedEdge).collect().mkString(";") ==
      "[-10,3,0,0.0,-1.1745];[-3,1,0,0.0,-0.2671];[9,5,4,0.8,1.2408]")
    assert(T.dsirWeights(spark, hashedEdge).collect().mkString(";") ==
      "[1,98,-41689022,-0.425398];[2,64,-28913471,-0.451773];" +
      "[6,11,-5400420,-0.490947];[7,7,-223381,-0.031912];" +
      "[8,47,-25997681,-0.553142]")
  }
}
