package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side budgets of builders that run on every query call: the
  * actions a builder runs and the jobs it launches ([[ActionBudget]]).
  * Each test uses its own session. */
class ActionBudgetSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  test("revenue_pareto_share: the builder runs ONE action and returns a plan with no Exchange or Sort") {
    val s = spark.newSession()
    val spent =
      ActionBudget.measure(s)(queries.Relational.revenueParetoShare(s, TestSpark.sf))
    assert(spent.actions.size == 1)
    val plan = spent.value.queryExecution.executedPlan
    assert(collect(plan) { case e: Exchange => e; case e: SortExec => e }
      .isEmpty, plan.toString)
  }

  test("nb_quality_score: a second builder call in one session launches NO job") {
    val s = spark.newSession()
    ActionBudget.measure(s)(queries.TextAnalysis.nbQualityScore(s, TestSpark.sf))
    val spent =
      ActionBudget.measure(s)(queries.TextAnalysis.nbQualityScore(s, TestSpark.sf))
    assert(spent.jobs == 0)
  }

  test("mv_refresh_incremental: a second builder call in one session launches NO job") {
    val s = spark.newSession()
    ActionBudget.measure(s)(queries.Relational.mvRefreshIncremental(s, TestSpark.sf))
    val spent =
      ActionBudget.measure(s)(queries.Relational.mvRefreshIncremental(s, TestSpark.sf))
    assert(spent.jobs == 0)
  }

  test("ADC builders: a second builder call in one session launches NO job") {
    for (name <- Seq("ann_cosine_pq", "ann_cosine_ivfpq", "ann_cosine_ivfpq_res")) {
      val build = SparkEntry.queries(name)
      val s = spark.newSession()
      ActionBudget.measure(s)(build(s, TestSpark.sf))
      assert(ActionBudget.measure(s)(build(s, TestSpark.sf)).jobs == 0, name)
    }
  }

  /** Jobs of each Lloyd model's cold build, in this order on one session
    * over a fresh copy of the sf0.001 `embeddings` (the model memos are
    * keyed by corpus dir, so no earlier spec in this JVM can have trained
    * them): `ivf_centroids` (its count includes the table's first schema
    * read), `pq_codebook`, then `pq_res_codebook` over the now-warm
    * centroids. Each is a count, an init collect and one collect per
    * Lloyd round. */
  test("Lloyd models: cold-build job counts of the IVF centroids and both PQ codebooks") {
    val dir = Files.createTempDirectory("lloyd_cold_")
    try {
      Files.copy(Paths.get(TestSpark.sf, "embeddings.parquet"),
        dir.resolve("embeddings.parquet"))
      val (d, s) = (dir.toString, spark.newSession())
      val S = queries.Similarity
      val got = Seq(
        "ivf_centroids" -> ActionBudget.measure(s)(S.ivfCentroids(s, d)).jobs,
        "pq_codebook" -> ActionBudget.measure(s)(S.pqCodebook(s, d)).jobs,
        "pq_res_codebook" -> ActionBudget.measure(s)(S.pqResCodebook(s, d)).jobs)
      assert(got == Seq("ivf_centroids" -> 10, "pq_codebook" -> 9,
        "pq_res_codebook" -> 9))
    } finally Substrate.deleteRecursively(dir.toFile)
  }

  /** Jobs of a noop write of each query that attaches grand totals
    * through `Hist.withTotals`, at sf0.001 in a fresh session. The frame
    * is built before the write, so a first call's sink build or schema
    * read is not counted. A returning broadcast one-row total or cache
    * adds jobs and fails here. Each comment gives the count with
    * broadcast one-row totals. */
  private val totalsNoopJobs = Map(
    "benford_audit" -> 4,  // 7
    "cluster_balanced_sample" -> 6,  // 9
    "corpus_stats" -> 2,  // 4
    "dsir_weights" -> 4,  // 5
    "dup_cluster_size_dist" -> 6,  // 8
    "k_anonymity" -> 2,  // 4
    "lang_source_chi2" -> 8,  // 12
    "leakage_safe_split" -> 4,  // 6
    "mixture_weights" -> 2,  // 5
    "quality_survival_curve" -> 5,  // 8
    "split_balance_audit" -> 12)  // 14

  test("grand totals: noop-write job counts of the Hist.withTotals queries") {
    val got = totalsNoopJobs.keys.toSeq.sorted.map { name =>
      val s = spark.newSession()
      val df = SparkEntry.queries(name)(s, TestSpark.sf)
      name -> ActionBudget.measure(s)(GraftSession.noopSeconds(s)(df)).jobs
    }.toMap
    assert(got == totalsNoopJobs)
  }
}
