package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.{BuildRight, BuildSide}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec, SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, BroadcastQueryStageExec, CoalesceShufflePartitions, ShuffleQueryStageExec, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeLike, ValidateRequirements}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: run a small post-shuffle sort,
  * aggregate or window in ONE task, without the exchange that would
  * feed it.
  *
  * Why it earns its place: a global `orderBy` over an aggregate plans a
  * range exchange, and every range exchange pays a sampling job (which
  * evaluates the aggregate below it once more) plus a map stage. When
  * the aggregate reads a materialized shuffle small enough that
  * [[CoalesceShufflePartitions]] reads it as ONE partition, one task
  * already does the aggregate's work and the range exchange only adds
  * stages — wordcount at sf0.1 paid 4 serial stages on 754 bytes of
  * shuffled counts. The rule replaces such an
  * `ENSURE_REQUIREMENTS` exchange with `CoalesceExec(1, input)`: the map
  * stage and the sampling job go away, and since AQE already reads that
  * input as one partition no operator loses parallelism.
  *
  * It fires on an exchange when all of these hold:
  *   - position: the exchange is the child of the operator that required
  *     its distribution — a global sort, an aggregate, a window or a
  *     window group limit — possibly through the local sort
  *     EnsureRequirements put on top of it;
  *   - no co-partitioning: it is reached from the root through
  *     single-child operators and broadcast joins only (a broadcast
  *     join takes its partitioning from the streamed side alone, and its
  *     build side is broadcast whole). A shuffled join (or a union)
  *     planned its children's partitionings together, so nothing below
  *     one is touched;
  *   - input path: between the exchange and its leaves sit only
  *     operators that never emit more rows than they read (project,
  *     filter, aggregate, sort, window, window group limit, shuffle read,
  *     a one-partition coalesce, broadcast semi/anti joins, and broadcast
  *     inner/cross/left-outer joins whose materialized build side holds
  *     at most one row — the "broadcast a 1-row scalar" idiom);
  *   - leaves: materialized shuffle stages of an origin AQE coalesces, or
  *     materialized table-cache stages;
  *   - bound: the leaves' bytes (`mapStats.bytesByPartitionId`, what the
  *     coalescing rule reads — never the uncompressed row-size estimate)
  *     fit in the one partition [[CoalesceShufflePartitions]] would make
  *     of them, and coalescing is enabled at all.
  * User `repartition`/`repartitionByRange` exchanges are never touched
  * (their origin is not `ENSURE_REQUIREMENTS`), and a rewrite the plan's
  * own requirement check ([[ValidateRequirements]]) rejects is dropped.
  *
  * Scale: the bound is AQE's own one-partition size (1 MiB by default),
  * so at 100 TB a large sort keeps its parallel range shuffle exactly as
  * planned; only small results — per-type counts, per-source mixtures,
  * final orderings of already-aggregated rows — save their last 1-2
  * stages, whatever the size of the input upstream. Registered via
  * SparkSessionExtensions.injectQueryStagePrepRule in
  * [[graft.functions.GraftExtensions]]. The collapse happens at runtime
  * only: an explain before execution still shows the exchange. */
case class SmallShuffleCollapse(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else {
      val out = rewrite(plan, onePartitionBytes)
      if ((out ne plan) && ValidateRequirements.validate(out)) out else plan
    }

  /** The most bytes [[CoalesceShufflePartitions]] reads as one partition.
    * It sizes partitions at total / minNum, capped by the advisory size
    * and floored at the minimum partition size; minNum is the default
    * parallelism under `parallelismFirst`, unless set explicitly. */
  private def onePartitionBytes: Long = {
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        session.sparkContext.defaultParallelism
      else 1)
    if (minNum > 1) minSize
    else minSize.max(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }

  private lazy val coalescedOrigins =
    CoalesceShufflePartitions(session).supportedShuffleOrigins.toSet

  /** `plan` with every qualifying exchange collapsed, bottom-up, so a
    * collapse below can let the exchange above it collapse too. */
  private def rewrite(plan: SparkPlan, bound: Long): SparkPlan = plan match {
    case j @ (_: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec) =>
      j.withNewChildren(j.children.map(rewrite(_, bound)))
    case p: UnaryExecNode =>
      val q = p.withNewChildren(Seq(rewrite(p.child, bound)))
      if (requiresDistribution(q)) q.withNewChildren(Seq(collapse(q.children.head, bound)))
      else q
    case p => p
  }

  private def requiresDistribution(p: SparkPlan): Boolean = (p match {
    case s: SortExec => s.global
    case _: BaseAggregateExec | _: WindowExec | _: WindowGroupLimitExec => true
    case _ => false
  }) && p.requiredChildDistribution.head != UnspecifiedDistribution

  private def collapse(child: SparkPlan, bound: Long): SparkPlan = child match {
    case s @ SortExec(_, false, e: ShuffleExchangeLike, _) =>
      s.withNewChildren(Seq(collapse(e, bound)))
    case e: ShuffleExchangeLike if e.shuffleOrigin == ENSURE_REQUIREMENTS &&
        inputBytes(e.child).exists(_ <= bound) =>
      CoalesceExec(1, e.child)
    case other => other
  }

  /** Bytes of the materialized stages `plan` reads, when it reads only
    * such stages through operators that never emit more rows than they
    * read; None otherwise. */
  private def inputBytes(plan: SparkPlan): Option[Long] = plan match {
    case s: ShuffleQueryStageExec =>
      Option.when(s.isMaterialized && coalescedOrigins(s.shuffle.shuffleOrigin))(
        s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L))
    case s: TableCacheQueryStageExec =>
      Option.when(s.isMaterialized)(s.getRuntimeStatistics.sizeInBytes.toLong)
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: SortExec |
         _: WindowExec | _: WindowGroupLimitExec | _: AQEShuffleReadExec =>
      inputBytes(plan.children.head)
    case c: CoalesceExec if c.numPartitions == 1 => inputBytes(c.child)
    case j: BroadcastHashJoinExec =>
      streamed(j.joinType, j.buildSide, j.left, j.right).flatMap(inputBytes)
    case j: BroadcastNestedLoopJoinExec =>
      streamed(j.joinType, j.buildSide, j.left, j.right).flatMap(inputBytes)
    case _ => None
  }

  /** The streamed side of a broadcast join whose build side is a
    * materialized stage, when the join emits at most one row per
    * streamed row. */
  private def streamed(joinType: JoinType, side: BuildSide,
                       left: SparkPlan, right: SparkPlan): Option[SparkPlan] = {
    val (build, stream) = if (side == BuildRight) (right, left) else (left, right)
    val buildRows = build match {
      case b: BroadcastQueryStageExec if b.isMaterialized =>
        b.getRuntimeStatistics.rowCount
      case _ => None
    }
    val atMostOneRow = buildRows.exists(_ <= 1)
    joinType match {
      case LeftSemi | LeftAnti if side == BuildRight && buildRows.isDefined => Some(stream)
      case LeftOuter if side == BuildRight && atMostOneRow => Some(stream)
      case Inner | Cross if atMostOneRow => Some(stream)
      case _ => None
    }
  }
}
