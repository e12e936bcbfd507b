package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Driver-walked VALUE histograms: the occupancy guard, the distributed
  * prefix scan, the nearest-rank cut and the count-histogram drift
  * ledger — and the grand totals of a bounded grouped frame
  * ([[withTotals]]).
  *
  * Several queries fold a corpus to a histogram keyed by a quantised
  * value — cents, $100 buckets, day counts, equi-width bins — and walk
  * it on the driver (rank selection, prefix-sum score maps). That is
  * sound model state ONLY because the key is bounded by the VALUE
  * RANGE, not the row count: 2-dp money spans ~10^5 cells, a corpus
  * time span ~10^4 days. The bound is a data property, though, not a
  * plan property — point the same query at a wide-range double column
  * (nanosecond latencies, unquantised floats) and the "histogram"
  * silently becomes the corpus riding a collect. Every such site must
  * collect through [[bounded]], which hard-fails past [[MaxCells]]
  * instead of OOMing the driver — the failure message names the
  * sketch fallback (equi-width [[Temporal.eventsValueQuantiles]]-style
  * binning, whose cell count is fixed by construction) so the operator
  * split is self-announcing, the containment-sketch discipline.
  *
  * 100 TB story: the guarded collect is over a POST-aggregation frame
  * (the groupBy(key) count already combined map-side), so the transfer
  * is ≤ MaxCells+1 narrow rows regardless of corpus size; the guard
  * caps driver memory at ~32 MB of rows. */
private[graft] object Hist {

  /** Hard cap on collected histogram cells. 2-dp money histograms are
    * ~10^5 cells and per-type variants a few ×10^5 — an order of
    * magnitude of headroom below the cap, while a raw unquantised
    * column blows past it immediately. */
  val MaxCells: Int = 1 << 20

  /** Collect `hist` (a small post-agg frame) with the occupancy guard.
    * `what` names the calling query in the failure message. The
    * limit(MaxCells+1) bounds the transfer BEFORE the check, so even
    * the failing case never ships more than cap+1 rows. */
  def bounded(hist: DataFrame, what: String,
              maxCells: Int = MaxCells): Array[Row] = {
    val rows = hist.limit(maxCells + 1).collect()
    require(rows.length <= maxCells,
      s"$what: value histogram exceeds $maxCells cells — the key column's " +
        "range is too wide for the driver-walk path (it would scale with " +
        "row count, not value range). Quantise the key coarser, or use the " +
        "fixed-width sketch shape (eventsValueQuantiles' equi-width bins).")
    rows
  }

  // --------------------------------------------------------------------
  // Distributed prefix scan
  // --------------------------------------------------------------------

  /** Bin count of a distributed prefix scan: the per-bin frame is ≤ this
    * many rows — bounded model state at any corpus size. */
  val ScanBins: Long = 65536L

  /** The span binning of a scan's ordering key over [lo, hi]: ≤
    * [[ScanBins]] bins of `width`, so rows that tie on the key share a
    * bin and bin order is key order. */
  final case class Span(lo: Long, hi: Long) {
    val width: Long = math.max(1L, (hi - lo) / ScanBins + 1)
    /** Bin of `key` for an ascending order. */
    def asc(key: String): Column = expr(s"($key - $lo) DIV $width")
    /** Bin of `key` for a descending order. */
    def desc(key: String): Column = expr(s"($hi - $key) DIV $width")
  }

  /** The [lo, hi] span of the long column `key` (one action, 2 longs of
    * model state); None when `df` is empty. */
  def span(df: DataFrame, key: String): Option[Span] = {
    val r = df.agg(min(key), max(key)).head()
    if (r.isNullAt(0)) None else Some(Span(r.getLong(0), r.getLong(1)))
  }

  /** The driver carry fold: each cell's carry is the `op`-fold, from
    * `zero`, of every cell before it; the second value folds them all. */
  def carries(cells: collection.IndexedSeq[Long], zero: Long)(
      op: (Long, Long) => Long): (collection.IndexedSeq[Long], Long) = {
    val run = cells.scanLeft(zero)(op)
    (run.init, run.last)
  }

  /** The distributed prefix scan (running sum or rank over a total order)
    * without a SinglePartition window: `binned` carries a `bin` column
    * (a [[Span]] binning); `fold` (aliased) sums or counts each bin
    * through [[bounded]]; the driver folds the carries; [[joinCarries]]
    * broadcasts them back and adds them to the within-bin `running`
    * column as `out`. Returns the frame and the fold of every bin. Each
    * task sorts one bin, never the corpus. */
  def prefixScan(binned: DataFrame, fold: Column, what: String,
                 order: Seq[Column], out: String)(
      running: WindowSpec => Column): (DataFrame, Long) = {
    val cells = bounded(binned.groupBy("bin").agg(fold), what)
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val (before, total) = carries(cells.map(_._2), 0L)(_ + _)
    (joinCarries(binned, "bin", "carry", cells.map(_._1).zip(before).toSeq,
      order, out)(running), total)
  }

  /** The broadcast join of per-bin `carries` back onto `binned` (column
    * `bin`, carry column `carry`), then `out` = `running` over the window
    * partitioned by `bin` and ordered by `order`, plus the carry. */
  def joinCarries(binned: DataFrame, bin: String, carry: String,
                  carries: Seq[(Long, Long)], order: Seq[Column], out: String)(
      running: WindowSpec => Column): DataFrame = {
    import binned.sparkSession.implicits._
    binned.join(broadcast(carries.toDF(bin, carry)), Seq(bin))
      .withColumn(out,
        running(Window.partitionBy(bin).orderBy(order: _*)) + col(carry))
  }

  // --------------------------------------------------------------------
  // Grand totals on a bounded grouped frame
  // --------------------------------------------------------------------

  /** `frame` with the grand totals `aggs` (aliased aggregates over its
    * rows) attached to every row, through ONE global aggregate: the rows
    * ride a `collect_list` beside the totals and explode back. No
    * broadcast job, no cache and no second pass over `frame`'s input.
    * Sound only for a frame with a STRUCTURAL row bound (|sources|,
    * bands, ≤ 2¹⁶ cells); a frame past [[ScanBins]] rows fails the query
    * at run time with a message naming `what`. An empty frame gives zero
    * rows, as a cross join with its one-row total does. Builds lazily:
    * no driver action.
    *
    * 100 TB story: the aggregation that produces `frame` stays
    * distributed; at most [[ScanBins]] of its output rows meet in one
    * task. A corpus-sized or key-grained frame keeps a broadcast one-row
    * total instead. */
  def withTotals(frame: DataFrame, what: String, aggs: Column*): DataFrame = {
    val rows = frame.columns.map(c => col(s"`$c`"))
    val folded = frame.agg(collect_list(struct(rows: _*)).as("_rows"), aggs: _*)
    val totals = folded.columns.tail.map(c => col(s"`$c`")).toSeq
    val guarded = when(size(col("_rows")) > ScanBins, raise_error(lit(
      s"$what: the frame given totals exceeds $ScanBins rows — its row " +
        "bound is not structural. Attach a broadcast one-row total " +
        "instead.")))
      .otherwise(col("_rows"))
    folded.select(explode(guarded).as("_row") +: totals: _*)
      .select(col("_row.*") +: totals: _*)
  }

  // --------------------------------------------------------------------
  // Nearest-rank cut
  // --------------------------------------------------------------------

  /** A nearest-rank cut: the cell `index` holding rank `rank` = ⌈p·n⌉,
    * and the count `before` it. */
  final case class Cut(index: Int, rank: Long, before: Long)

  /** The nearest-rank cut over a histogram's cell `counts` in key order
    * (quantile_disc semantics): the first cell whose cumulative count
    * reaches ⌈p·n⌉, n = Σ counts. Needs p > 0 and a non-empty
    * histogram. */
  def nearestRank(counts: collection.IndexedSeq[Long], p: Double): Cut = {
    val (before, n) = carries(counts, 0L)(_ + _)
    val rank = math.ceil(p * n).toLong
    val i = counts.indices.find(i => before(i) + counts(i) >= rank).get
    Cut(i, rank, before(i))
  }

  // --------------------------------------------------------------------
  // Count-histogram drift ledger
  // --------------------------------------------------------------------

  /** Folds a batch's per-cell counts into the cumulative counts `prior`:
    * the mergeable state of the live drift monitors. */
  def foldCounts[K](prior: Map[K, Long], batch: Iterable[(K, Long)]): Map[K, Long] =
    batch.foldLeft(prior) { case (m, (c, n)) =>
      m.updated(c, m.getOrElse(c, 0L) + n)
    }

  /** The total-variation drift ledger of a shard against a frozen corpus
    * (ingest_drift and quality_drift, batch and live): `corpus` holds
    * (`key`, n_corpus) over `nc` rows, `shard` holds (`key`, n_shard).
    * Per cell, after the `label` columns: both counts, both ppm shares
    * and the ledger-wide TV distance in ppm. Σ|dev| reaches nc·ns·2 at a
    * fully-drifted corpus, past the 2⁵³ double mantissa at ≥~1e9-row
    * shards, so the TV is an exact-integer half-up ([[Det.halfUpDiv]]),
    * matching the oracle's HUGEINT numerator at any scale; the per-cell
    * shares use the same two-floor discipline in long arithmetic (exact
    * to ~4.6e12 rows per cell). None when the corpus or the shard is
    * empty (TV undefined). */
  def driftLedger(corpus: DataFrame, nc: Long, shard: DataFrame, key: String,
                  label: Column*): Option[DataFrame] = {
    val nsRow = shard.agg(sum("n_shard")).head()
    val ns = if (nsRow.isNullAt(0)) 0L else nsRow.getLong(0)
    if (nc == 0 || ns == 0) return None
    val led = corpus.join(shard, Seq(key), "left")
      .na.fill(0L, Seq("n_shard"))
      .withColumn("dev",
        abs(col("n_shard").cast("decimal(38,0)") * nc
          - col("n_corpus").cast("decimal(38,0)") * ns))
    val sdev = BigInt(led.agg(sum("dev")).head().getDecimal(0).toBigInteger)
    val tv = Det.halfUpDiv(sdev * 1000000L, BigInt(nc) * ns * 2)
    Some(led.select(label ++ Seq(col("n_corpus"), col("n_shard"),
        expr(s"(n_corpus * 2000000 + ${nc}L) DIV ${2 * nc}L").as("corpus_ppm"),
        expr(s"(n_shard * 2000000 + ${ns}L) DIV ${2 * ns}L").as("shard_ppm"),
        lit(tv).as("tv_ppm")): _*)
      .orderBy(key))
  }

  /** DuckDB twin of [[driftLedger]], from the `corpus` CTE on: counts
    * of `src` per `key` (the shard is `id` % deltaMod = deltaMod − 1),
    * HUGEINT deviation numerators and exact-integer half-up divisions
    * throughout — floor(a/b + 1/2) == (2a + b) // (2b) — so no
    * probability touches a double. `keyOut` is the ledger's key column,
    * `labels` any columns between the key and the counts. */
  def driftLedgerSql(src: String, id: String, key: String, keyOut: String,
                     labels: String, deltaMod: Long): String =
    s"""corpus AS (SELECT $key, count(*) AS n_corpus FROM $src GROUP BY 1),
       |shard AS (SELECT $key, count(*) AS n_shard FROM $src
       |          WHERE $id % $deltaMod = ${deltaMod - 1} GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS nc,
       |               CAST(sum(CASE WHEN $id % $deltaMod = ${deltaMod - 1}
       |                             THEN 1 ELSE 0 END) AS BIGINT) AS ns
       |        FROM $src),
       |led AS (SELECT $keyOut, c.n_corpus,
       |               CAST(coalesce(s.n_shard, 0) AS BIGINT) AS n_shard
       |        FROM corpus c LEFT JOIN shard s USING ($key)),
       |dev AS (SELECT l.$key, l.n_corpus, l.n_shard, t.nc, t.ns,
       |               abs(CAST(l.n_shard AS HUGEINT) * t.nc
       |                   - CAST(l.n_corpus AS HUGEINT) * t.ns) AS d
       |        FROM led l, tot t WHERE t.nc > 0 AND t.ns > 0),
       |roll AS (SELECT CAST(
       |           (2 * sum(d) * 1000000 + 2 * CAST(max(nc) AS HUGEINT) * max(ns))
       |           // (4 * CAST(max(nc) AS HUGEINT) * max(ns)) AS BIGINT) AS tv_ppm
       |         FROM dev)
       |SELECT $key, ${labels}CAST(n_corpus AS BIGINT) AS n_corpus, n_shard,
       |       CAST((CAST(n_corpus AS HUGEINT) * 2000000 + nc)
       |            // (2 * CAST(nc AS HUGEINT)) AS BIGINT) AS corpus_ppm,
       |       CAST((CAST(n_shard AS HUGEINT) * 2000000 + ns)
       |            // (2 * CAST(ns AS HUGEINT)) AS BIGINT) AS shard_ppm,
       |       r.tv_ppm
       |FROM dev CROSS JOIN roll r
       |ORDER BY $key""".stripMargin
}
