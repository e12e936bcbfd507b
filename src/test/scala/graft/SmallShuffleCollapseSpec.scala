package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.SmallShuffleCollapse]]: a small post-shuffle sort runs
  * in the task that aggregates, and every guard keeps today's plan with
  * identical rows in identical order. Each case builds wordcount's rows
  * at sf0.01 (a shuffle far below AQE's 1 MiB one-partition size) and
  * runs a noop write in a fresh session; the final adaptive plan and
  * the job count come from that write. */
class SmallShuffleCollapseSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  private val sf = new java.io.File(TestSpark.sf).getParent + "/sf0.01"

  private final case class Run(rows: Seq[Row], plan: SparkPlan, jobs: Int) {
    def shuffles: Int = collect(plan) { case e: ShuffleExchangeLike => e }.size
    def fired: Boolean = collect(plan) { case c: CoalesceExec => c }.nonEmpty
  }

  /** `frame` in a new session with `confs` set: its rows, and the final
    * adaptive plan and job count of its noop write. The frame is built
    * before the write, so a first read's schema inference is not
    * counted. */
  private def run(confs: (String, String)*)(frame: SparkSession => DataFrame): Run = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    val df = frame(s)
    val spent = ActionBudget.measure(s)(GraftSession.noopSeconds(s)(df))
    val plan = spent.actions.last.executedPlan
      .collectFirst { case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan }
      .getOrElse(fail("no adaptive plan in the noop write"))
    Run(df.collect().toSeq, plan, spent.jobs)
  }

  private def wordcount(s: SparkSession) = queries.TextJobs.wordcount(s, sf)

  private def words(s: SparkSession) =
    Tables.documents(s, sf)
      .select(col("doc_id"), explode(split(lower(col("text")), "\\W+")).as("word"))
      .filter(length(col("word")) > 0)

  private lazy val base = run()(wordcount)

  private def assertGuarded(r: Run): Unit = {
    assert(!r.fired, r.plan.treeString)
    assert(r.rows == base.rows)
  }

  test("wordcount: 2 jobs and one shuffle, down from 4 jobs and two shuffles") {
    assert(base.fired, base.plan.treeString)
    assert(base.jobs == 2, base.plan.treeString)
    assert(base.shuffles == 1, base.plan.treeString)
    assert(base.rows.nonEmpty)
    assert(base.rows.map(_.getString(0)) == base.rows.map(_.getString(0)).sorted)
  }

  test("guard: minPartitionSize=1b keeps the range shuffle") {
    val r = run("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")(wordcount)
    assertGuarded(r)
    assert(r.jobs == 4)
    assert(r.shuffles == 2, r.plan.treeString)
  }

  test("guard: coalescePartitions.enabled=false keeps the range shuffle") {
    val r = run("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(wordcount)
    assertGuarded(r)
    assert(r.shuffles == 2, r.plan.treeString)
  }

  test("guard: a sort-merge join of two aggregated sides keeps both of its shuffles") {
    // each side aggregates twice, so its word-keyed exchange reads a
    // materialized stage and would qualify on position, path and size
    val r = run("spark.sql.autoBroadcastJoinThreshold" -> "-1") { s =>
      val cnt = words(s).groupBy(col("word"), col("doc_id") % 3).count()
        .groupBy("word").agg(sum("count").as("cnt"))
      val n = words(s).groupBy(col("word"), col("doc_id") % 5).count()
        .groupBy("word").agg(sum("count").as("n"))
      // every word occurs: the filter keeps them all, and keeps the
      // second side's aggregates from being pruned away
      cnt.join(n.filter(col("n") > 0), "word").select("word", "cnt").orderBy("word")
    }
    assertGuarded(r)
    val joins = collect(r.plan) { case j: SortMergeJoinExec => j }
    assert(joins.size == 1, r.plan.treeString)
    assert(joins.head.children.forall(side =>
      collect(side) { case e: ShuffleExchangeLike => e }.size == 2), r.plan.treeString)
  }

  test("guard: an explode between the stage read and the global sort") {
    val r = run() { s =>
      words(s).groupBy("word").agg(count(lit(1)).as("n"))
        .select(col("word"), explode(array(col("n"))).as("cnt"))
        .orderBy("word")
    }
    assertGuarded(r)
    assert(r.shuffles == 2, r.plan.treeString)
  }

  test("guard: a user repartitionByRange keeps its shuffle") {
    val r = run() { s =>
      words(s).groupBy("word").agg(count(lit(1)).as("cnt"))
        .repartitionByRange(col("word")).orderBy("word")
    }
    assertGuarded(r)
    assert(r.shuffles == 2, r.plan.treeString)
  }
}
