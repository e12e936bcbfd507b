package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners. The harness tags every phase of every
  * query with the job group `pass|query|phase`; this class files Spark's
  * jobs, stages and task metrics under those groups, reads the final
  * executed plan of each noop write, and at the end writes
  *
  *  - `phases.jsonl`: one line of counters per (pass, query, phase);
  *  - `spans.jsonl`: the span tree query → phase → job → stage.
  *
  * Listener callbacks run on Spark's listener-bus thread; the driver
  * thread reads the maps only after draining the bus. */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace.Phase

  private final class StageAgg {
    var tasks, failedTasks, runMs, cpuNs, deserMs, gcMs, peakMem = 0L
    var bytesRead, recordsRead, scanTasks, bytesWritten = 0L
    var shuffleWriteBytes, shuffleWriteNs, shuffleReadBytes = 0L
    var fetchWaitMs, spillBytes = 0L
  }

  private val phases = mutable.ArrayBuffer.empty[Phase]
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobTimes = new ConcurrentHashMap[Int, Array[Long]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageInfo = new ConcurrentHashMap[Int, StageInfo]()
  private val stageAgg = new ConcurrentHashMap[Int, StageAgg]()
  @volatile private var lastExecGroup: String = null
  // group -> (exchanges, reused exchanges, scans) of its final plans
  private val plans = new ConcurrentHashMap[String, Array[Long]]()

  /** Called on the driver thread when a traced phase ends. */
  def phase(group: String, startMs: Long, endMs: Long, wallS: Double,
            compiles: Long, compileNs: Long): Unit =
    phases += Phase(group, startMs, endMs, wallS, compiles, compileNs)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    groupOf(e.properties).foreach { g =>
      jobGroup.put(e.jobId, g)
      jobTimes.put(e.jobId, Array(e.time, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTimes.get(e.jobId)).foreach(_(1) = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach(stageGroup.put(e.stageInfo.stageId, _))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageInfo.put(e.stageInfo.stageId, e.stageInfo)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
    a.tasks += 1
    if (!e.taskInfo.successful) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.deserMs += m.executorDeserializeTime
      a.gcMs += m.jvmGCTime
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.bytesRead += m.inputMetrics.bytesRead
      a.recordsRead += m.inputMetrics.recordsRead
      if (m.inputMetrics.recordsRead > 0) a.scanTasks += 1
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => lastExecGroup = s.jobGroupId.orNull
    case _ =>
  }

  /** Plan counts of each noop write. The listener bus delivers an
    * execution's start before its success callback, and the harness
    * runs one query at a time, so the latest started execution is the
    * one that succeeded. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(lastExecGroup).filter(_.endsWith("|exec")).foreach { g =>
      val c = Trace.planCounts(qe.executedPlan)
      plans.merge(g, c, (x, y) => x.zip(y).map { case (u, v) => u + v })
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Writes `phases.jsonl` and `spans.jsonl` into `dir`. */
  def write(dir: File): Unit = {
    val stagesOf: Map[String, Seq[Int]] = stageInfo.keySet.asScala.toSeq
      .flatMap(s => Option(stageGroup.get(s)).map(_ -> s))
      .groupMap(_._1)(_._2)
    val jobsOf: Map[String, Seq[Int]] =
      jobGroup.asScala.toSeq.groupMap(_._2)(_._1)

    def interval(s: Int): (Long, Long) = {
      val i = stageInfo.get(s)
      (i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }

    val rows = phases.iterator.map { ph =>
      val Array(pass, query, name) = ph.group.split("\\|", 3)
      val stages = stagesOf.getOrElse(ph.group, Nil)
      val aggs = stages.flatMap(s => Option(stageAgg.get(s)))
      def sum(f: StageAgg => Long): Long = aggs.map(f).sum
      // wall time of the phase that no stage of it covers
      val covered = stages.map(interval).sortBy(_._1)
        .map { case (a, b) => (math.max(a, ph.startMs), math.min(b, ph.endMs)) }
        .filter { case (a, b) => b > a }
        .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
          if (a >= end) (acc + b - a, b)
          else if (b > end) (acc + b - end, b)
          else (acc, end)
        }._1
      val plan = Option(plans.get(ph.group)).getOrElse(Array(0L, 0L, 0L))
      mutable.LinkedHashMap[String, Any](
        "pass" -> pass.toInt, "query" -> query, "phase" -> name,
        "wall_s" -> ph.wallS, "start_ms" -> ph.startMs, "end_ms" -> ph.endMs,
        "jobs" -> jobsOf.getOrElse(ph.group, Nil).size,
        "stages" -> stages.size,
        "stage_wall_s" -> stages.map { s => val (a, b) = interval(s); b - a }.sum / 1e3,
        "stage_cover_s" -> covered / 1e3,
        "tasks" -> sum(_.tasks), "failed_tasks" -> sum(_.failedTasks),
        "task_run_s" -> sum(_.runMs) / 1e3, "task_cpu_s" -> sum(_.cpuNs) / 1e9,
        "task_deser_s" -> sum(_.deserMs) / 1e3, "gc_s" -> sum(_.gcMs) / 1e3,
        "peak_task_mem_mb" -> aggs.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0,
        "bytes_read" -> sum(_.bytesRead), "records_read" -> sum(_.recordsRead),
        "scan_tasks" -> sum(_.scanTasks), "bytes_written" -> sum(_.bytesWritten),
        "shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
        "shuffle_write_s" -> sum(_.shuffleWriteNs) / 1e9,
        "shuffle_read_bytes" -> sum(_.shuffleReadBytes),
        "fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
        "spill_bytes" -> sum(_.spillBytes),
        "compiles" -> ph.compiles, "compile_s" -> ph.compileNs / 1e9,
        "exchanges" -> plan(0), "reused_exchanges" -> plan(1), "scans" -> plan(2))
    }
    Json.writeLines(new File(dir, "phases.jsonl"), rows)
    Json.writeLines(new File(dir, "spans.jsonl"), spans(stagesOf, jobsOf))
  }

  private def spans(stagesOf: Map[String, Seq[Int]],
                    jobsOf: Map[String, Seq[Int]]): Iterator[Any] = {
    def span(id: String, parent: String, kind: String, name: String,
             start: Long, end: Long) = mutable.LinkedHashMap[String, Any](
      "id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
      "start_ms" -> start, "end_ms" -> end)
    val byQuery = phases.groupBy(p => p.group.split("\\|", 3).take(2).mkString("|"))
    byQuery.iterator.flatMap { case (qid, ps) =>
      Iterator(span(s"q:$qid", null, "query", qid,
        ps.map(_.startMs).min, ps.map(_.endMs).max)) ++
      ps.iterator.flatMap { ph =>
        val pid = s"p:${ph.group}"
        Iterator(span(pid, s"q:$qid", "phase", ph.group, ph.startMs, ph.endMs)) ++
        jobsOf.getOrElse(ph.group, Nil).sorted.iterator.map { j =>
          val t = jobTimes.get(j)
          span(s"j:$j", pid, "job", s"job $j", t(0), t(1))
        } ++
        stagesOf.getOrElse(ph.group, Nil).sorted.iterator.map { s =>
          val i = stageInfo.get(s)
          val parent = Option(stageJob.get(s)).filter(jobGroup.containsKey)
            .map(j => s"j:$j").getOrElse(pid)
          span(s"s:$s", parent, "stage", i.name,
            i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
        }
      }
    }
  }
}

object Trace {
  private final case class Phase(group: String, startMs: Long, endMs: Long,
                                 wallS: Double, compiles: Long, compileNs: Long)

  /** (exchanges, reused exchanges, scans) in a final executed plan,
    * descending into adaptive plans, query stages and subqueries. */
  def planCounts(plan: SparkPlan): Array[Long] = {
    val c = Array(0L, 0L, 0L)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => c(1) += 1
      case _ =>
        p match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => c(0) += 1
          case _: FileSourceScanExec | _: BatchScanExec => c(2) += 1
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    c
  }
}
