package graft

import org.apache.spark.sql.SparkSession

/** Measurement-only probe (guide §1): decompose a query's wall time into
  * driver-side construction + planning vs repeated noop-sink executions,
  * to attribute the ~0.3-0.6 s per-query floor that dominates the sf0.1
  * bench total (214 of 269 queries are <1 s and sum to ~126 s of ~220 s).
  *
  * Usage: tools/run.sh graft.FloorProbe <sfDir> <query...>
  *   SPARK_GRAFT_EXTRA_CONF="k=v;k=v" adds session confs (for A/Bing
  *   static confs like spark.sql.codegen.cache.maxEntries across JVMs).
  *
  * Columns: build = DataFrame construction (query function call);
  * plan = analyzed→executedPlan (optimizer + physical planning, pre-AQE);
  * exec1..3 = noop-sink runs with clearCache between (exec1 includes
  * first-run codegen/JIT; exec3 is the warm floor).
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var b = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { s =>
      extraConf(s).foreach { case (k, v) => b = b.config(k, v) }
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    Seq("lineitem", "orders", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }
    }
    def t[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f; ((System.nanoTime() - t0) / 1e9, a)
    }
    println(f"${"query"}%-32s ${"build"}%7s ${"plan"}%7s ${"exec1"}%7s ${"exec2"}%7s ${"exec3"}%7s")
    val rows = names.map { name =>
      spark.catalog.clearCache()
      val (tb, df) = t(SparkEntry.queries(name)(spark, sfDir))
      val (tp, _) = t(df.queryExecution.executedPlan)
      val (e1, _) = t(df.write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      val (e2, _) = t(df.write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      val (e3, _) = t(df.write.format("noop").mode("overwrite").save())
      println(f"$name%-32s $tb%7.3f $tp%7.3f $e1%7.3f $e2%7.3f $e3%7.3f")
      (name, tb, tp, e1, e2, e3)
    }
    val n = rows.size.max(1)
    println(f"${"MEAN"}%-32s ${rows.map(_._2).sum / n}%7.3f ${rows.map(_._3).sum / n}%7.3f ${rows.map(_._4).sum / n}%7.3f ${rows.map(_._5).sum / n}%7.3f ${rows.map(_._6).sum / n}%7.3f")
    spark.stop()
  }

  /** `SPARK_GRAFT_EXTRA_CONF` (`k1=v1;k2=v2`) as conf pairs; a token
    * without `=` fails by name instead of as a MatchError. */
  private[graft] def extraConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_EXTRA_CONF: token '$kv' is not key=value")
      (kv.take(i), kv.drop(i + 1))
    }
}
