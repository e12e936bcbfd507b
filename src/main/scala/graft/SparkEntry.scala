package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 (and the LLM-pipeline
  * extensions) is one [[Query]] entry in its module's `queries`: a named
  * query over the driver's parquet fixtures with its DuckDB-runnable SQL
  * twin. This object indexes the entries and derives the driver's maps.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Wordcount is the reference's flagship job (examples/wordcount/) and
    * exercises the whole F1-F8 pipeline: scan → project → explode → filter
    * → hash agg (partial+final) → sort → sink. */
  def entry(spark: SparkSession): DataFrame =
    TextJobs.wordcount(spark, "/root/testdata/sf0.001")

  /** Every registered query by name: each module's `queries` entries,
    * indexed once. A name declared twice fails here, naming it. Adding a
    * query module means adding it to this one list. */
  lazy val registry: Map[String, Query] = Query.index(
    TextJobs.queries ++ Relational.queries ++ Dedup.queries ++
      Similarity.queries ++ TextAnalysis.queries ++ Multimodal.queries ++
      Temporal.queries ++ Functions.queries ++ Curation.queries ++
      graft.streaming.StreamingJobs.queries ++
      graft.operators.TopKAggregator.queries ++ graft.operators.SkewJoin.queries ++
      graft.operators.BucketedJoin.queries)

  /** One entry per implemented operator from SURVEY.md §2, at its
    * registered arguments. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.run }

  /** For each key in [[queries]], equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracleSql }

  /** The parameterised entries' builders over user arguments; the args
    * contract is on [[Query]]. */
  lazy val queriesWithArgs: Map[String, Query.Build] =
    registry.flatMap { case (n, q) => q.withArgs.map(n -> _) }

  /** The templated entries' DuckDB twins over the same arguments. */
  lazy val oracleSqlWithArgs: Map[String, Map[String, String] => String] =
    registry.flatMap { case (n, q) => q.template.map(n -> _) }
}
