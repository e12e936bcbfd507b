package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic arithmetic helpers.
  *
  * `round()` is NOT portable between Spark and DuckDB: Spark rounds the
  * shortest-decimal representation HALF_UP, DuckDB rounds the binary value
  * — at representation boundaries they disagree by one ulp of the target
  * scale (observed: 3/500 rows of a 4-dp quality score off by exactly
  * 1e-4). floor(x·10ⁿ + 0.5)/10ⁿ is pure IEEE double math: identical
  * inputs → identical outputs on every engine.
  */
object Det {
  /** 2-dp money (and 2-dp fractions: discount 0.07 → 7) as an exact
    * integer: round(x·100) as long — sums of these are fold-order-free
    * on both engines. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  def r(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    floor(c * p + 0.5).cast("double") / p
  }
  def rSql(x: String, scale: Int): String = {
    val p = math.pow(10, scale).toLong
    s"CAST(floor(($x) * $p + 0.5) AS DOUBLE) / $p"
  }

  /** Exact driver-side floor(num/den + 1/2) over arbitrary-magnitude
    * non-negative integers (den > 0): the two-floor half-up in pure
    * integer arithmetic — floor(a/b + 1/2) == (2a + b) div (2b) — so a
    * ratio whose operands exceed the 2⁵³ double mantissa (ingest_drift's
    * Σ|dev| reaches nc·ns·2 at a fully-drifted corpus) still rounds
    * identically to an oracle that carries a HUGEINT numerator.
    * PropertiesSpec pins it against a BigDecimal reference past 2⁵³ and
    * exhibits the double-path divergence it closes. */
  def halfUpDiv(num: BigInt, den: BigInt): Long = {
    require(den > 0 && num >= 0, s"halfUpDiv needs num >= 0 < den, got $num/$den")
    ((num * 2 + den) / (den * 2)).toLong
  }
}

/** Safe-charset gates for user-supplied STRING arguments that are
  * interpolated into oracle SQL (the arg-template layer). Numeric args
  * go through toInt/toLong/toDouble and cannot inject; string args reach
  * a '…' literal verbatim, so a quote breaks the oracle and — where the
  * oracle uses LIKE while the Spark side uses Column.contains — a `%`/`_`
  * silently DIVERGES the two engines instead of failing. Validate at the
  * query function itself (both the DataFrame side and the SqlFor twin
  * call these), so every entry path is covered. */
object Args {
  /** Arg destined for an equality-compared SQL string literal: bans
    * quote, backslash, and control chars; everything else is inert
    * inside '…'. */
  def lit(name: String, v: String): String = {
    require(v.forall(c => c != '\'' && c != '\\' && c >= ' '),
      s"$name must not contain quotes, backslashes, or control chars " +
        s"(it is interpolated into an oracle SQL literal), got '$v'")
    v
  }

  /** Arg destined for a LIKE '%…%' pattern whose Spark twin is the
    * LITERAL Column.contains: additionally bans the LIKE metacharacters
    * `%` and `_`, which would silently diverge the two engines. */
  def likeLit(name: String, v: String): String = {
    lit(name, v)
    require(!v.exists(c => c == '%' || c == '_'),
      s"$name must not contain LIKE metacharacters % or _ " +
        "(Spark compares it literally via contains; the oracle via LIKE), " +
        s"got '$v'")
    v
  }
}
