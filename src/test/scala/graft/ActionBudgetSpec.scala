package graft

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
}
