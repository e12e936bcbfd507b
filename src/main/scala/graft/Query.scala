package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its builder over the driver's parquet
  * fixtures, and its DuckDB twin — declared once, in its module's
  * `queries` Seq. [[SparkEntry]] indexes every module's entries and
  * derives its four maps from them.
  *
  * ARGS CONTRACT. A parameterised entry ([[Query.args]],
  * [[Query.templated]]) takes user arguments as a string map, like the
  * reference's GREP_PATTERN env channel (examples/grep/mapper.py:15). A
  * builder reads each argument with the module constant its Scala
  * signature defaults to (`a.int("k", KnnK)`), so the no-argument call is
  * the registered query, and the fixed registry runs it at its
  * `registered` arguments (empty for all but `grep`, whose registered
  * "(error|scan)" keeps the query non-vacuous on this corpus while its
  * no-argument default stays the reference's "error").
  *
  * ORACLE VALIDITY. A fixed oracle hard-codes the registered argument
  * values, so it is valid for a non-default run only where the argument
  * cannot change the RESULT (pure execution knobs: salt counts, shard
  * counts) — or where the argument's SQL is not expressible (model-state
  * iterations etc.), which fall back to rows/shape checks. A templated
  * entry renders its twin from the same argument map, so a non-default
  * run stays hash-checkable through `graft.Verify <sf> <out> name@k=v` +
  * tools/check.py; its registered oracle IS the template at the
  * registered arguments. */
final class Query private (
    val name: String,
    /** The registered query: the builder at the registered arguments. */
    val run: (SparkSession, String) => DataFrame,
    /** The DuckDB twin of [[run]]. */
    val oracleSql: String,
    /** The builder over user arguments, for a parameterised entry. */
    val withArgs: Option[Query.Build],
    /** The DuckDB twin over user arguments, for a templated entry. */
    val template: Option[Map[String, String] => String])

object Query {
  type Build = (SparkSession, String, Map[String, String]) => DataFrame

  /** A query with no user arguments. */
  def apply(name: String, sql: String)(build: (SparkSession, String) => DataFrame): Query =
    new Query(name, build, sql, None, None)

  /** A parameterised query whose oracle is the registered one only. */
  def args(name: String, sql: String)(build: Build): Query =
    new Query(name, (s, d) => build(s, d, Map.empty), sql, Some(build), None)

  /** A parameterised query whose oracle is templated on the same
    * arguments. */
  def templated(name: String, template: Map[String, String] => String,
                registered: Map[String, String] = Map.empty)(build: Build): Query =
    new Query(name, (s, d) => build(s, d, registered), template(registered),
      Some(build), Some(template))

  /** Entries by name; a name declared twice fails, naming it. */
  def index(entries: Seq[Query]): Map[String, Query] = {
    val twice = entries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty,
      s"query name declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    entries.map(q => q.name -> q).toMap
  }

  /** Typed reads of a user argument, falling back to the module constant
    * the builder's signature defaults to. */
  implicit final class ArgOps(private val a: Map[String, String]) extends AnyVal {
    def int(key: String, default: Int): Int = a.get(key).fold(default)(_.toInt)
    def long(key: String, default: Long): Long = a.get(key).fold(default)(_.toLong)
    def double(key: String, default: Double): Double = a.get(key).fold(default)(_.toDouble)
    def str(key: String, default: String): String = a.getOrElse(key, default)
  }
}
