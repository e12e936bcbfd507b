package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The hashed-feature model builds scan and tokenize `documents` ONCE:
  * every leg (histogram, class prior, per-doc scoring) reads one shared
  * per-doc fold exchange, and no inferred filter re-runs the tokenizer
  * above the scan. Asserted on the FINAL adaptive plans of the actions
  * a build runs: plans read before execution never show AQE's stage
  * reuse. */
class TokenizeOnceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper
    with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  /** A fresh corpus dir holding a copy of the sf0.01 `documents`: the
    * write-once NB sink is keyed by corpus dir, so no earlier spec in
    * this JVM can have built it already. */
  private lazy val sf01Copy: String = {
    val dir = Files.createTempDirectory("tokenize_once_")
    Files.copy(Paths.get(new java.io.File(TestSpark.sf).getParent,
      "sf0.01", "documents.parquet"), dir.resolve("documents.parquet"))
    dir.toString
  }

  override def afterAll(): Unit =
    Substrate.deleteRecursively(new java.io.File(sf01Copy))

  /** Final adaptive plans of every action `f` runs on a fresh session. */
  private def finalPlans(f: org.apache.spark.sql.SparkSession => Unit): Seq[SparkPlan] = {
    val s = spark.newSession()
    ActionBudget.measure(s)(f(s)).actions.map(_.executedPlan)
  }

  /** One `documents` scan, at least `otherLegs` ReusedExchange nodes
    * (one per leg beyond the first that reads the fold), and no Filter
    * that re-runs the tokenizer. */
  private def assertOneTokenizePass(plans: Seq[SparkPlan], otherLegs: Int): Unit = {
    val docScans = plans.flatMap(p => collect(p) {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == "documents.parquet") => f
    })
    val reused = plans.flatMap(p => collect(p) { case r: ReusedExchangeExec => r })
    val tokFilters = plans.flatMap(p => collect(p) {
      case f: FilterExec if f.condition.toString.contains("split(lower(") => f
    })
    val shown = plans.map(_.toString).mkString("\n----\n")
    assert(docScans.size == 1, shown)
    assert(reused.size >= otherLegs, shown)
    assert(tokFilters.isEmpty, shown)
  }

  test("nb_quality_score cold build: one documents scan, the other legs on ReusedExchange, no tokenizer filter") {
    val plans = finalPlans(s => queries.TextAnalysis.nbQualityScore(s, sf01Copy): Unit)
    assert(plans.nonEmpty)
    assertOneTokenizePass(plans, otherLegs = 2)
  }

  test("dsir_weights: one documents scan, the scoring leg on ReusedExchange, no tokenizer filter") {
    val plans = finalPlans(s =>
      queries.TextAnalysis.dsirWeights(s, sf01Copy).write.format("noop")
        .mode("overwrite").save())
    assert(plans.size == 1)
    assertOneTokenizePass(plans, otherLegs = 1)
  }
}
