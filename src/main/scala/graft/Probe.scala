package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange

import scala.util.control.NonFatal

/** Measurement main: `tools/run.sh graft.Probe <subcommand> <args...>`,
  * every subcommand on one [[GraftSession.local]] session.
  *
  *  - `time <sfDir> <passes> <query...>`: the Bench protocol for named
  *    queries (untimed warmup, clearCache before every run, noop sink,
  *    per-query min across passes), so its numbers compare directly to
  *    bench entries.
  *  - `floor <sfDir> <query...>`: a query's wall time split into build
  *    (DataFrame construction), plan (analyzed → executedPlan, pre-AQE)
  *    and three noop runs — exec1 includes first-run codegen/JIT, exec2
  *    and exec3 follow a clearCache (exec3 is the warm floor).
  *  - `plans <outDir> <sfDir> [query...]`: `explain("formatted")` per
  *    query (every registered query when none is named) to
  *    `<outDir>/<query>.txt`; a query whose construction throws writes
  *    `<query>._ERROR` with the message instead, so a sweep cannot
  *    silently skip one.
  *  - `audit <sfDir>`: plan-hygiene sweep over every registered query —
  *    parquet scans per table, cached scans and exchanges in the physical
  *    plan; the quick way to spot a table scanned N times or a shuffle
  *    regression.
  *  - `scale [nDocs] [nVecs] [outDir] [q1,q2,...] [nEvents] [relScale]
  *    [skewPct]`: [[ScaleProbe.run]]. */
object Probe {
  private val Commands: Seq[(String, (SparkSession, Array[String]) => Unit)] = Seq(
    "time" -> time _, "floor" -> floor _, "plans" -> plans _,
    "audit" -> audit _, "scale" -> ScaleProbe.run _)

  def main(args: Array[String]): Unit = {
    val cmd = command(args)
    val spark = GraftSession.local()
    try cmd(spark, args.drop(1)) finally spark.stop()
  }

  /** Runs the subcommand `args(0)` on `spark`, leaving the session open. */
  private[graft] def run(spark: SparkSession, args: Array[String]): Unit =
    command(args)(spark, args.drop(1))

  private def command(args: Array[String]): (SparkSession, Array[String]) => Unit =
    Commands.collectFirst { case (c, f) if args.headOption.contains(c) => f }
      .getOrElse(throw new IllegalArgumentException(
        s"usage: graft.Probe <${Commands.map(_._1).mkString("|")}> <args...>; " +
          s"got ${args.headOption.fold("no subcommand")(c => s"'$c'")}"))

  private def time(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = args(1).toInt
    val names = args.drop(2).toSeq
    GraftSession.warmup(spark, sfDir)
    val times = (1 to passes).map { p =>
      names.map { name =>
        val s = GraftSession.noopSeconds(spark)(SparkEntry.queries(name)(spark, sfDir))
        println(f"pass $p $name%-28s $s%8.3f s")
        name -> s
      }.toMap
    }
    names.foreach { n =>
      println(f"MIN   $n%-28s ${times.map(_(n)).min}%8.3f s")
    }
  }

  private def floor(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    GraftSession.warmup(spark, sfDir)
    def line(label: String, cells: Seq[String]): Unit =
      println(f"$label%-32s " + cells.mkString(" "))
    def secs(xs: Seq[Double]): Seq[String] = xs.map(x => f"$x%7.3f")
    line("query", Seq("build", "plan", "exec1", "exec2", "exec3").map(h => f"$h%7s"))
    val rows = names.map { name =>
      spark.catalog.clearCache()
      val (tb, df) = GraftSession.timed(SparkEntry.queries(name)(spark, sfDir))
      val (tp, _) = GraftSession.timed(df.queryExecution.executedPlan)
      val (e1, _) = GraftSession.timed(df.write.format("noop").mode("overwrite").save())
      val e2 = GraftSession.noopSeconds(spark)(df)
      val e3 = GraftSession.noopSeconds(spark)(df)
      val row = Seq(tb, tp, e1, e2, e3)
      line(name, secs(row))
      row
    }
    val n = rows.size.max(1)
    line("MEAN", secs((0 until 5).map(i => rows.map(_(i)).sum / n)))
  }

  private def plans(spark: SparkSession, args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = args(1)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        Files.write(Paths.get(outDir, s"$name.txt"), plan.getBytes(UTF_8))
      } catch {
        case NonFatal(e) =>
          Files.write(Paths.get(outDir, s"$name._ERROR"),
            s"${e.getClass.getName}: ${e.getMessage}".getBytes(UTF_8))
      }
      spark.catalog.clearCache()
    }
  }

  private def audit(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args(0)
    val tableRe = raw".*/(\w+)\.parquet.*".r
    println(f"${"query"}%-24s scans cache exch  per-table (file scans only)")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        spark.catalog.clearCache()
        // AQE wraps the tree in an opaque AdaptiveSparkPlanExec — walk its
        // initial plan (post-EnsureRequirements, so exchanges are visible;
        // collect() does not descend into the adaptive node)
        val plan = fn(spark, sfDir).queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }
        val scans = plan.collect { case s: FileSourceScanExec =>
          s.relation.location.rootPaths.headOption.map(_.toString) match {
            case Some(tableRe(t)) => t
            case _ => "?"
          }
        }
        val cached = plan.collect { case c: InMemoryTableScanExec => c }.length
        val exch = plan.collect { case e: Exchange => e }.length
        val byTable = scans.groupBy(identity).view.mapValues(_.size)
          .toSeq.sortBy(-_._2).map { case (t, n) => s"$t:$n" }.mkString(" ")
        println(f"$name%-24s ${scans.size}%5d $cached%5d $exch%4d  $byTable")
      } catch {
        case NonFatal(e) => println(f"$name%-24s FAILED: ${e.getMessage}")
      }
    }
  }
}
