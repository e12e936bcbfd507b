package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** The one session-setup point for every entry point (Bench, Verify,
  * Probe, tests), plus the warmup and the timed noop run they share.
  *
  * - AQE on: runtime shuffle-partition coalescing + skew-join splitting —
  *   the local stand-in for what matters on a 1000-executor cluster.
  * - Speculation parity with the reference's straggler detection
  *   (coordinator/server.py:74-75: 1.5× median, 0.25 quantile, 5s interval)
  *   — Spark's three configs map 1:1 (SURVEY.md §2.3 R1). Local mode
  *   ignores speculation, but the conf documents cluster intent.
  * - nanosAsLong: the `events` fixture stores ts as parquet
  *   TIMESTAMP(NANOS), which Spark 4 otherwise refuses to read
  *   (PARQUET_TYPE_ILLEGAL); we read it as Long and convert via
  *   [[Tables.eventsTs]].
  */
object GraftSession {
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Whole-stage-codegen compiled-class cache (static conf; default
      // 100 entries). The 269-query registry compiles ~8 codegen units
      // per query, so at the default size every unit is LRU-evicted
      // before its query runs again — each bench pass re-pays Janino
      // compilation (~0.25 s/query, `Probe floor`, r14) that a long-lived
      // production driver pays once. Sized to hold the whole suite;
      // entries are compiled classes (JVM code, never data), so this
      // cannot cache results across runs.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // InferFiltersFromGenerate adds `size(t) > 0` under an `explode(t)`;
      // when `t` is a projected alias (a tokenizer), predicate pushdown
      // substitutes the alias, so a Filter above the scan re-runs the
      // whole projection per row, interpreted lambdas included. The
      // filter only drops rows the `explode` drops anyway.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.speculation", "true")
      .config("spark.speculation.multiplier", "1.5")
      .config("spark.speculation.quantile", "0.25")
      .config("spark.speculation.interval", "5s")
      .config("spark.ui.enabled", "false")

  /** Local session for tests and mains, `local[cpus]` with
    * [[configure]]'s tuning. The default is `SPARK_GRAFT_CPUS`, or the
    * machine's processors capped at 32 when it is unset. */
  def local(cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cpus]"), cpus.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `SPARK_GRAFT_CPUS` as a core count; a value that is not a positive
    * integer fails by name rather than as a bad master URL. */
  private[graft] def cpusFrom(env: Option[String]): Int = env match {
    case None => Runtime.getRuntime.availableProcessors.min(32)
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** Untimed warmup: the flagship entry query plus a count per large
    * fixture table absorbs one-time session costs (codegen bootstrap,
    * JIT, parquet footer reads) that would otherwise land on whichever
    * query runs first. A table missing from `sfDir` is skipped. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    try SparkEntry.entry(spark).count() catch { case NonFatal(_) => }
    Seq("lineitem", "orders", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case NonFatal(_) => }
    }
  }

  /** Wall seconds of `body`, with its result. */
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Clears cached frames, then times building `df` and writing it to the
    * noop sink. The noop sink materializes every output row and column; a
    * bare count() lets Catalyst prune projections and sorts. Whatever the
    * build or the write throws comes back with the seconds it took rather
    * than propagating: Bench records every failure and goes on, the scale
    * probe rethrows fatal ones, [[noopSeconds]] rethrows all. */
  def timedNoop(spark: SparkSession)(df: => DataFrame): (Double, Option[Throwable]) = {
    spark.catalog.clearCache()
    timed {
      try { df.write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(e) }
    }
  }

  /** [[timedNoop]] for callers that stop on any failure. */
  def noopSeconds(spark: SparkSession)(df: => DataFrame): Double =
    timedNoop(spark)(df) match {
      case (s, None) => s
      case (_, Some(e)) => throw e
    }
}
