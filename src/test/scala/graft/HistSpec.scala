package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Curation, Dedup, Det, Hist, Relational, Similarity, TextAnalysis}

/** The driver-walked histogram helpers against literal left-to-right
  * folds: the distributed prefix scan in both directions and in its
  * exclusive, inclusive and rank forms, and the nearest-rank cut. The
  * grand-totals helper against the one-row totals it replaced. */
class HistSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** (id, v) rows with ties on v; over the 0..1e6 span a bin is 16 wide,
    * so 500000 and 500003 share a bin while 5 and 20 do not. */
  private val rows = Seq((1L, 5L), (2L, 7L), (3L, 7L), (4L, 20L),
    (5L, 500000L), (6L, 500003L), (7L, 500003L), (8L, 999999L),
    (9L, 1000000L), (10L, 7L), (11L, 0L))

  private sealed trait Form
  private case object Exclusive extends Form
  private case object Inclusive extends Form
  private case object Rank extends Form
  private val forms = Seq(Exclusive, Inclusive, Rank)

  /** Hist.prefixScan over `data` ordered by (v, id), v descending when
    * `desc`: id → scanned value, and the fold of every bin. */
  private def scan(data: Seq[(Long, Long)], desc: Boolean,
                   form: Form): (Map[Long, Long], Long) = {
    val s = spark
    import s.implicits._
    val df = data.toDF("id", "v")
    val span = Hist.span(df, "v").getOrElse(Hist.Span(0L, 0L))
    val binned = df.withColumn("bin", if (desc) span.desc("v") else span.asc("v"))
    val order = Seq(if (desc) col("v").desc else col("v").asc, col("id"))
    val fold: Column = if (form == Rank) count(lit(1)).as("m") else sum("v").as("s")
    val running: WindowSpec => Column = form match {
      case Exclusive => w => coalesce(
        sum("v").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
      case Inclusive => w => sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
      case Rank => w => row_number().over(w).cast("long")
    }
    val (out, total) = Hist.prefixScan(binned, fold, "hist_spec", order, "out")(running)
    (out.select("id", "out").as[(Long, Long)].collect().toMap, total)
  }

  /** The same scan as one left-to-right fold over the sorted rows. */
  private def literal(data: Seq[(Long, Long)], desc: Boolean,
                      form: Form): (Map[Long, Long], Long) = {
    val sorted = data.sortBy { case (id, v) => (if (desc) -v else v, id) }
    var sum = 0L
    var rank = 0L
    val out = sorted.map { case (id, v) =>
      val before = sum
      sum += v
      rank += 1
      id -> (form match {
        case Exclusive => before
        case Inclusive => sum
        case Rank => rank
      })
    }
    (out.toMap, if (form == Rank) rank else sum)
  }

  test("prefix scan: a wide span puts several values, and every tie, in one bin") {
    val span = Hist.Span(0L, 1000000L)
    assert(span.width == 16)
    assert(Hist.Span(3L, 3L).width == 1)
    val s = spark
    import s.implicits._
    val bins = rows.toDF("id", "v").select(col("id"), span.asc("v").as("b"))
      .as[(Long, Long)].collect().toMap
    assert(bins(5L) == bins(6L) && bins(6L) == bins(7L))
    assert(bins(2L) == bins(3L) && bins(1L) == bins(2L))
    assert(bins(1L) != bins(4L))
  }

  test("prefix scan == literal fold: both directions, exclusive / inclusive / rank, with ties") {
    for (desc <- Seq(false, true); form <- forms)
      assert(scan(rows, desc, form) == literal(rows, desc, form), s"desc=$desc $form")
  }

  test("prefix scan with lo == hi: one bin, the within-bin order alone") {
    val flat = Seq((3L, 42L), (1L, 42L), (2L, 42L))
    for (desc <- Seq(false, true); form <- forms)
      assert(scan(flat, desc, form) == literal(flat, desc, form), s"desc=$desc $form")
  }

  test("prefix scan over an empty frame: no span, no rows, zero total") {
    val s = spark
    import s.implicits._
    assert(Hist.span(Seq.empty[(Long, Long)].toDF("id", "v"), "v").isEmpty)
    for (desc <- Seq(false, true); form <- forms)
      assert(scan(Seq.empty, desc, form) == ((Map.empty[Long, Long], 0L)))
  }

  test("carry fold: each cell carries the fold of the cells before it") {
    assert(Hist.carries(Vector(3L, 1L, 4L), 0L)(_ + _) == ((Vector(0L, 3L, 4L), 8L)))
    assert(Hist.carries(Vector(3L, 1L, 4L), Long.MinValue)(math.max) ==
      ((Vector(Long.MinValue, 3L, 3L), 4L)))
    assert(Hist.carries(Vector.empty[Long], 0L)(_ + _) == ((Vector.empty[Long], 0L)))
  }

  test("nearest-rank cut: ⌈p·n⌉ on a cumulative boundary and inside a cell") {
    val counts = Vector(2L, 3L, 5L) // cumulative 2, 5, 10
    // p·n lands exactly on a boundary: the cell that reaches it
    assert(Hist.nearestRank(counts, 0.2) == Hist.Cut(0, 2L, 0L))
    assert(Hist.nearestRank(counts, 0.5) == Hist.Cut(1, 5L, 2L))
    assert(Hist.nearestRank(counts, 1.0) == Hist.Cut(2, 10L, 5L))
    // fractional p·n rounds up: 2.1 → 3, 5.5 → 6, 0.1 → 1
    assert(Hist.nearestRank(counts, 0.21) == Hist.Cut(1, 3L, 2L))
    assert(Hist.nearestRank(counts, 0.55) == Hist.Cut(2, 6L, 5L))
    assert(Hist.nearestRank(counts, 0.01) == Hist.Cut(0, 1L, 0L))
    // against the literal definition: the smallest cell whose running count reaches the rank
    for (p <- Seq(0.01, 0.1, 0.25, 0.3, 0.5, 0.7, 0.9, 0.99, 1.0)) {
      val want = math.ceil(p * 10).toLong
      var run = 0L
      val i = counts.indexWhere { c => run += c; run >= want }
      assert(Hist.nearestRank(counts, p).index == i, s"p=$p")
    }
  }

  // --------------------------------------------------------------------
  // Grand totals
  // --------------------------------------------------------------------

  private def messages(e: Throwable): Iterator[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage))

  test("withTotals: builds lazily; a frame over the cap fails at run time, naming the query") {
    val s = spark
    val cap = Hist.ScanBins
    val spent = ActionBudget.measure(s)(
      Hist.withTotals(s.range(cap + 1).toDF("k"), "hist_spec_cap", sum("k").as("t")))
    assert(spent.actions.isEmpty && spent.jobs == 0)
    val e = intercept[Exception](spent.value.collect())
    assert(messages(e).exists(_.contains("hist_spec_cap")), e.toString)
    val atCap = Hist.withTotals(s.range(cap).toDF("k"), "hist_spec_cap", sum("k").as("t"))
      .agg(count(lit(1)), min("t"), max("t")).head()
    assert(atCap.getLong(0) == cap)
    assert(atCap.getLong(1) == cap * (cap - 1) / 2 && atCap.getLong(2) == atCap.getLong(1))
  }

  test("withTotals: an empty frame gives zero rows, as a cross join with its total does") {
    val s = spark
    import s.implicits._
    val df = Seq.empty[(String, Long)].toDF("k", "n")
    assert(Hist.withTotals(df, "hist_spec", sum("n").as("t")).collect().isEmpty)
    assert(df.crossJoin(broadcast(df.agg(sum("n").as("t")))).collect().isEmpty)
  }

  test("withTotals: a NULL grouping key survives with every total attached") {
    val s = spark
    import s.implicits._
    val grouped = Seq[(String, Long)](("a", 1L), (null, 2L), ("a", 3L), (null, 4L))
      .toDF("k", "v").groupBy("k").agg(sum("v").as("n"))
    val out = Hist.withTotals(grouped, "hist_spec",
      sum("n").as("t"), count(col("k")).as("keyed"))
    // the frame's columns, then the totals
    assert(out.columns.toSeq == Seq("k", "n", "t", "keyed"))
    assert(out.as[(String, Long, Long, Long)].collect().toSet ==
      Set(("a", 4L, 10L, 1L), (null, 6L, 10L, 1L)))
  }

  /** Every row of `out`, beside the one-row `old` total computed the way
    * the query computed it before, passes `check`. */
  private def holds(name: String, out: DataFrame, old: DataFrame, check: Column): Unit = {
    val ok = out.crossJoin(old).select(check).collect().map(_.getBoolean(0))
    assert(ok.nonEmpty && ok.forall(identity), name)
  }

  test("withTotals: every converted query's totals equal the old broadcast totals at sf0.01") {
    val s = spark
    val sf = new java.io.File(TestSpark.sf).getParent + "/sf0.01"
    val docs = Tables.documents(s, sf)
    val nDocs = docs.agg(count(lit(1)).as("old"))
    def share(x: String) = Det.r(col(x).cast("double") / col("old"), 6)

    holds("corpus_stats", TextAnalysis.corpusStats(s, sf), nDocs,
      col("doc_share") === share("n_docs"))
    holds("k_anonymity", Relational.kAnonymity(s, sf),
      Tables.customer(s, sf).agg(count(lit(1)).as("old")),
      col("share") === share("n"))
    holds("leakage_safe_split", Curation.leakageSafeSplit(s, sf), nDocs,
      col("pct_docs") === share("n_docs"))
    holds("split_balance_audit", Curation.splitBalanceAudit(s, sf)
        .join(docs.groupBy("lang").agg(count(lit(1)).as("n_lang")), "lang"),
      nDocs, col("corpus_share") === share("n_lang"))
    holds("dup_cluster_size_dist", Dedup.dupClusterSizeDist(s, sf), nDocs,
      col("doc_share") === share("n_docs"))
    holds("benford_audit", Relational.benfordAudit(s, sf),
      Tables.orders(s, sf).filter(Det.cents(col("o_totalprice")) > 0)
        .agg(count(lit(1)).as("old")),
      col("n") === col("old"))

    val survival = TextAnalysis.qualitySurvivalCurve(s, sf)
    holds("quality_survival_curve", survival,
      survival.agg(sum("tokens").as("old")),
      col("surv_token_share") === share("surv_tokens"))
    val chi2 = TextAnalysis.langSourceChi2(s, sf)
    holds("lang_source_chi2", chi2,
      chi2.agg(sum(round(col("contrib") * 1e6).cast("long")).as("old"),
        ((countDistinct("lang") - 1) * (countDistinct("source") - 1)).as("old_dof")),
      col("chi2") === col("old").cast("double") / 1e6 && col("dof") === col("old_dof"))

    // two chained totals: the share's, then the normaliser of its powers
    val alpha = 0.7
    val mix = TextAnalysis.mixtureWeights(s, sf, alpha)
    val tokTot = mix.agg(sum("n_tokens").as("old"))
    val powMicros = floor(pow(col("n_tokens").cast("double") / col("old"), alpha)
      * 1e6 + 0.5).cast("long")
    holds("mixture_weights", mix,
      tokTot.crossJoin(mix.crossJoin(tokTot).agg(sum(powMicros).as("old_pow"))),
      col("share") === share("n_tokens") &&
        col("weight") === Det.r(powMicros.cast("double") / col("old_pow"), 6))

    // every cell keeps ≥ 1 member, so the sample names every cell's mass
    val sample = Similarity.clusterBalancedSample(s, sf)
    val cells = sample.select("cell", "cell_mass").distinct()
    val massTot = cells.agg(sum("cell_mass").as("old"))
    assert(massTot.head().getLong(0) == Tables.embeddings(s, sf).count())
    val cellPow = floor(pow(col("cell_mass").cast("double") / col("old"), 0.5)
      * 1e6 + 0.5).cast("long")
    holds("cluster_balanced_sample", sample,
      massTot.crossJoin(cells.crossJoin(massTot).agg(sum(cellPow).as("old_pow"))),
      col("quota") === least(col("cell_mass"),
        greatest(lit(1L), floor((lit(200L) * cellPow) / col("old_pow")))))

    val dsir = TextAnalysis.dsirBucketCounts(s, sf)
    holds("dsir bucket counts", dsir,
      dsir.agg(sum("cnt_raw").as("old_raw"), sum("cnt_tgt").as("old_tgt")),
      col("tot_raw") === col("old_raw") && col("tot_tgt") === col("old_tgt"))
    val nb = TextAnalysis.nbBucketCounts(s, sf)
    holds("nb bucket counts", nb,
      nb.agg(sum("cnt_p").as("old_p"), sum("cnt_f").as("old_f")),
      col("tot_p") === col("old_p") && col("tot_f") === col("old_f"))
  }
}
