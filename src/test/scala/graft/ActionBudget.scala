package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver-side cost of a block: the actions it ran on one session
  * (QueryExecutionListener) and the jobs it launched (SparkListener),
  * read after draining the listener bus. Other sessions' actions never
  * count, and the block runs in its own job group, so other threads'
  * jobs never count either. */
object ActionBudget {
  /** The block's value, the query executions of its actions in the order
    * they finished, and the number of jobs it launched. */
  final case class Spent[A](value: A, actions: Seq[QueryExecution], jobs: Int)

  def measure[A](s: SparkSession)(f: => A): Spent[A] = {
    val sc = s.sparkContext
    val group = "action-budget-" + java.util.UUID.randomUUID()
    val actions = new ConcurrentLinkedQueue[QueryExecution]
    val jobs = new AtomicInteger
    val onAction = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(qe): Unit
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
        actions.add(qe): Unit
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
      Spent(a, actions.asScala.toSeq, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(onJob)
      s.listenerManager.unregister(onAction)
    }
  }
}
