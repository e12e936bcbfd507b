package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side budgets of builders that run on every query call: the
  * actions a builder runs (QueryExecutionListener) and the jobs it
  * launches (SparkListener), read after draining the listener bus. Each
  * test uses its own session, so other sessions' actions never count,
  * and its own job group, so other threads' jobs never count. */
class ActionBudgetSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  /** `f`'s value, the actions it ran on `s` and the jobs it launched. */
  private def budget[A](s: SparkSession)(f: => A): (A, Int, Int) = {
    val sc = s.sparkContext
    val group = "action-budget-" + java.util.UUID.randomUUID()
    val actions = new AtomicInteger
    val jobs = new AtomicInteger
    val onAction = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        actions.incrementAndGet(): Unit
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
        actions.incrementAndGet(): Unit
    }
    val onJob = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    TestListenerBus.drain(sc)
    s.listenerManager.register(onAction)
    sc.addSparkListener(onJob)
    sc.setJobGroup(group, "action budget")
    try {
      val a = f
      TestListenerBus.drain(sc)
      (a, actions.get, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(onJob)
      s.listenerManager.unregister(onAction)
    }
  }

  test("revenue_pareto_share: the builder runs ONE action and returns a plan with no Exchange or Sort") {
    val s = spark.newSession()
    val (df, actions, _) =
      budget(s)(queries.Relational.revenueParetoShare(s, TestSpark.sf))
    assert(actions == 1)
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case e: Exchange => e; case e: SortExec => e }
      .isEmpty, plan.toString)
  }

  test("nb_quality_score: a second builder call in one session launches NO job") {
    val s = spark.newSession()
    budget(s)(queries.TextAnalysis.nbQualityScore(s, TestSpark.sf))
    val (_, _, jobs) =
      budget(s)(queries.TextAnalysis.nbQualityScore(s, TestSpark.sf))
    assert(jobs == 0)
  }
}
