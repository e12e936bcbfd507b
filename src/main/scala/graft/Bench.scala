package graft

import scala.util.control.NonFatal

/** Benchmark main: one JSON line with per-query wall times at the given SF.
  *
  * An UNTIMED [[GraftSession.warmup]] absorbs one-time session costs
  * (~6 s of noise on a ~0.5 s query otherwise). Queries then run in
  * sorted name order for stable attribution.
  *
  * Contention-proofing: the whole suite runs TWICE inside one session and
  * each query reports its per-query MINIMUM — a single contended window
  * (another process stealing the box for a few seconds) distorts at most
  * one pass, and the min recovers the query's true cost. The r2 driver
  * artifact recorded 126 s that re-ran at 67 s for exactly this reason.
  * Queries whose two timings still disagree by >25% get ONE targeted
  * third run and report their median-of-3 (`reruns` counts them) — kills
  * the residual cross-artifact noise that made r3→r4 deltas unreadable.
  *
  * Failures are RECORDED, not swallowed: a query that throws under the
  * noop sink lands in the `failed` list (and contributes no time), so a
  * correctness break can never masquerade as a fast benchmark number. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    GraftSession.warmup(spark, sfDir)
    val names = SparkEntry.queries.keys.toSeq.sorted
    // pass → name -> (seconds, succeeded). timedNoop drops the previous
    // query's intra-query caches first — otherwise cached partitions
    // accumulate over the suite and GC noise lands on whatever runs late
    def runPass(subset: Seq[String] = names): Map[String, (Double, Boolean)] = subset.map { name =>
      val (s, failure) = GraftSession.timedNoop(spark)(SparkEntry.queries(name)(spark, sfDir))
      name -> (s, failure.isEmpty)
    }.toMap
    val p1 = runPass(); val p2 = runPass()
    // third pass only for queries whose two timings disagree by >25% —
    // min-of-2 already absorbs most shared-box noise, but a single GC
    // pause or page-cache miss on one pass leaves the min unreliable;
    // the targeted re-run gives those queries a median-of-3 instead
    val noisy = names.filter { n =>
      val (t1, ok1) = p1(n); val (t2, ok2) = p2(n)
      // the 0.5 s floor keeps sub-100ms queries (where 25% is scheduler
      // jitter, not signal) from triggering pointless third runs
      ok1 && ok2 && math.max(t1, t2) > 0.5 &&
        math.abs(t1 - t2) > 0.25 * math.min(t1, t2)
    }
    // Contention gate (r7 verdict item 4): when >40 queries disagree by
    // >25% across the two passes, the BOX was contended, not the
    // queries — targeted median-of-3 would blend two contended numbers
    // (r6 recorded 329 s vs 135.6 s quiet; r7 153.5 s vs 130.8 s, 70
    // reruns). Run a FULL third pass and take per-query min-of-3: the
    // min across three spaced passes is the best recoverable estimate
    // of the uncontended cost.
    val contended = noisy.size > 40
    val p3: Map[String, (Double, Boolean)] =
      if (contended) runPass()
      else if (noisy.isEmpty) Map.empty
      else runPass(noisy)
    val results = names.map { n =>
      val passes = Seq(p1(n), p2(n)) ++ p3.get(n)
      val okTimes = passes.collect { case (t, true) => t }.sorted
      val t =
        if (okTimes.isEmpty) passes.map(_._1).min
        else if (contended) okTimes.min // min-of-3 under whole-box contention
        else if (okTimes.length >= 3) okTimes(okTimes.length / 2) // median-of-3
        else okTimes.min
      (n, t, okTimes.nonEmpty)
    }
    // millisecond precision keeps the line short enough that a tail-capture
    // of driver stdout retains every per-query entry (the r3 artifact
    // head-truncated 29 of 92 entries off a full-double-precision line).
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // `policy` makes the mixed timing semantics explicit: every query is
    // min-of-2; the `reruns` queries (two timings >25% apart) are
    // median-of-3 instead. Totals therefore mix both — compare totals
    // only across runs of this same harness.
    val policy =
      if (contended) "min-of-3 (contention gate: >40 reruns tripped a full third pass)"
      else "min-of-2; median-of-3 on >25% disagreement"
    val meta = s""""failed":$failed,"runs":${if (contended) 3 else 2},"reruns":${if (contended) noisy.size else p3.size},"policy":"$policy","sf":"$sfDir""""
    val json = s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,$meta}"""
    // durable copy: the stdout artifact is a bounded tail-capture, so the
    // authoritative full record also lands on disk next to the run
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case NonFatal(_) => }
    // The driver keeps only the LAST 2000 chars of stdout and json-parses
    // the last line. The full per-query line outgrew that window at ~80
    // queries, so it prints first (humans + belt-and-braces) and a compact
    // line — totals, failures, and as many slowest-first per-query entries
    // as fit a 1800-char budget — prints LAST. bench.json always holds the
    // complete map.
    val compactPrefix = s"""{"metric":"total","value":${ms(total)},"unit":"sec",$meta,"full":"bench.json","""
    val budget = 1800
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = compactPrefix.length + 40 // slack for queries_omitted + braces
    results.sortBy(-_._2).foreach { case (k, v, _) =>
      val e = "\"" + k + "\":" + ms(v)
      if (len + e.length + 1 <= budget) { entries += e; len += e.length + 1 }
    }
    val compact = compactPrefix +
      s""""queries_omitted":${results.size - entries.size},"queries":${entries.mkString("{", ",", "}")}}"""
    // stop Spark BEFORE printing: executor/BlockManager shutdown can emit
    // WARN lines that would land after the parse target otherwise
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(json)
    println(compact)
  }
}
