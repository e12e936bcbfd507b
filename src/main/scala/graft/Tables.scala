package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central fixture access: every query reads driver-generated parquet via
  * this helper so scans stay uniform (and Catalyst pushdown/pruning applies
  * to a plain FileSourceScan everywhere). See FIXTURES.md §B for schemas.
  */
object Tables {
  /** Memoized parquet SCHEMA per table file — metadata only, never data.
    * Every `spark.read.parquet(path)` call re-runs footer-based schema
    * inference (~0.1-0.2 s of the per-query floor at sf0.1, `Probe
    * floor`, r14), so the schema is inferred once and passed explicitly
    * thereafter. An entry holds for the file or directory it was read
    * from: keyed by path and stamped with the entry's modification time
    * and length, so a table rewritten at the same path (a sink rebuilt
    * in place, a fixture regenerated) is read with its new schema. A
    * failed read is not memoized. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), org.apache.spark.sql.types.StructType)]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    stamp(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val cached = schemaCache.get(path)
        if (cached != null && cached._1 == st) spark.read.schema(cached._2).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemaCache.put(path, (st, df.schema))
          df
        }
    }
  }

  /** (modification time, length) of the file or directory at `path`;
    * None when it cannot be stat'ed, and the read reports why. */
  private def stamp(spark: SparkSession, path: String): Option[(Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    try {
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      Some((st.getModificationTime, st.getLen))
    } catch { case _: java.io.IOException => None }
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = apply(s, d, "events")

  /** `events` with `ts` as a proper TimestampType column, whatever the
    * fixture encoding. Two encodings exist in the wild:
    *   - parquet TIMESTAMP(NANOS): with
    *     spark.sql.legacy.parquet.nanosAsLong=true (set by [[GraftSession]])
    *     Spark reads it as Long nanos, converted losslessly (fixture values
    *     are µs-precision) to Spark's µs timestamps;
    *   - parquet timestamp[us] without a UTC flag: Spark reads it as
    *     TIMESTAMP_NTZ, cast to TIMESTAMP — value-exact because the session
    *     timezone is pinned UTC by [[GraftSession]].
    * Every consumer (queries, the registered temp view, streaming batch
    * twins) MUST go through here rather than casting locally: the r6
    * fixture re-encoding broke 1 query + 8 specs precisely because call
    * sites patched the type themselves. EdgeCaseSpec pins the output type
    * for both encodings. */
  def eventsTs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val e = events(s, d)
    e.schema("ts").dataType match {
      // integer division — `/` on longs is DOUBLE division in Spark, and a
      // double cannot hold epoch-nanos (~1.7e18 > 2^53): µs would come back
      // off by one on ~half the rows
      case LongType => e.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => e.withColumn("ts", col("ts").cast(TimestampType))
      case _ => e
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every fixture table as a temp view so the whole engine is
    * reachable through `spark.sql("...")` — the declarative twin of the
    * reference's job-submission surface. `events` registers with the
    * normalized µs timestamp. */
  def registerViews(s: SparkSession, d: String): Unit = names.foreach { n =>
    // partial corpora (ScaleProbe synthesizes only the table families a
    // probe needs) register what they have; a view for an absent table
    // would fail here anyway, just less legibly
    val p = new org.apache.hadoop.fs.Path(d, s"$n.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val df = if (n == "events") eventsTs(s, d) else apply(s, d, n)
      df.createOrReplaceTempView(n)
    } else {
      // drop any stale view from a previous registerViews(otherDir) —
      // leaving it would silently serve the OTHER corpus's data to SQL
      s.catalog.dropTempView(n)
    }
  }
}
