package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Empirical scale probe: synthesize a documents+embeddings corpus N×
  * the sf0.1 fixtures (same vocabulary/shape, deterministic LCG text,
  * ~1% injected near-dups) and time the document/vector operator family
  * against it. This is the evidence behind PERF.md's "would hold at
  * 100×" claims — fixtures verify correctness, this probes the scaling
  * exponent (a quadratic candidate blowup shows up here long before a
  * cluster does).
  *
  * After the timing loop, the ANN family also gets a RECALL probe:
  * top-5 overlap of the LSH/IVF output vs the exact brute-force baseline
  * at probe scale — approximation quality must hold as the corpus grows
  * (bucket occupancy and cell geometry both shift with n), not just at
  * fixture scale where SimilaritySpec bounds it.
  * Usage: tools/run.sh graft.Probe scale [nDocs] [nVecs] [outDir]
  *          [q1,q2,...] [nEvents] [relScale] [skewPct] */
object ScaleProbe {

  private val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** The relational fixture tables: every table but documents,
    * embeddings and events. */
  private val RelTables =
    Set("customer", "lineitem", "nation", "orders", "part", "region", "supplier")

  /** The tables a DuckDB twin reads: the names after FROM and JOIN, with
    * string literals stripped first. */
  private[graft] def tablesRead(sql: String): Set[String] = {
    val code = "'[^']*'".r.replaceAllIn(sql, "''")
    raw"(?i)\b(?:FROM|JOIN)\s+(\w+)".r.findAllMatchIn(code)
      .map(_.group(1).toLowerCase(java.util.Locale.ROOT)).toSet
  }

  /** A registered query's probe family, from the fixture tables its
    * DuckDB twin reads: `events` only → "events", relational tables only
    * → "rel", both → "dual", neither (documents/embeddings) → "docs".
    * The registry is the one list: a new query is probed in the family
    * its twin implies. */
  private[graft] def familyOf(name: String): String = {
    val t = tablesRead(SparkEntry.oracleSql(name))
    (t("events"), t.exists(RelTables)) match {
      case (false, false) => "docs"
      case (true, false) => "events"
      case (false, true) => "rel"
      case (true, true) => "dual"
    }
  }

  /** Pseudo-queries: probe legs that `only` can name but that are not
    * registered queries. */
  private[graft] val PseudoQueries = Set("multi_touch_salt",
    "decont_substrate_ab", "pipeline_composite", "live_ingest_stream",
    "minhash_geometry")

  /** The registered queries the probe runs for an `only` filter (empty =
    * every enabled family). Fails, naming the name, on an `only` entry
    * that is neither a registered query nor a pseudo-query, and, naming
    * the parameter, on a query whose family ([[familyOf]]) this corpus does not
    * synthesize (events need nEvents > 0, relational tables
    * relScale > 0) — never drops a name silently. */
  private[graft] def selection(only: Set[String], nEvents: Long,
                               relScale: Int): Seq[String] = {
    val unknown = only -- SparkEntry.oracleSql.keySet -- PseudoQueries
    require(unknown.isEmpty,
      s"unknown probe queries: ${unknown.toSeq.sorted.mkString(",")}")
    val byFamily = SparkEntry.oracleSql.keys.toSeq.sorted.groupBy(familyOf)
    Seq(
      "docs" -> Nil,
      "events" -> Seq("nEvents" -> (nEvents > 0)),
      "rel" -> Seq("relScale" -> (relScale > 0)),
      "dual" -> Seq("nEvents" -> (nEvents > 0), "relScale" -> (relScale > 0))
    ).flatMap { case (family, needs) =>
      val qs = byFamily.getOrElse(family, Nil)
      val missing = needs.collect { case (param, false) => param }
      val asked = qs.filter(only)
      require(missing.isEmpty || asked.isEmpty,
        s"${asked.mkString(",")} need ${missing.map(_ + " > 0").mkString(" and ")}")
      if (missing.nonEmpty) Nil else if (only.isEmpty) qs else asked
    }
  }

  /** `graft.Probe scale`: synthesize the corpus, then time the selected
    * queries and legs on `spark` (arguments as in the usage above). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 100000L
    val nVecs = if (args.length > 1) args(1).toLong else 40000L
    val dir = if (args.length > 2 && args(2).nonEmpty) args(2)
      else s"${System.getProperty("java.io.tmpdir")}/graft_scale_${nDocs}"
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    val nEvents = if (args.length > 4) args(4).toLong else 0L
    val relScale = if (args.length > 5) args(5).toInt else 0
    // skewPct > 0: ONE bot user (user_id 0) owns ~skewPct% of all events
    // on top of its uniform share — the adversarial shape for every
    // query that shuffles or windows on user_id
    val skewPct = if (args.length > 6) args(6).toInt else 0
    val selected = selection(only, nEvents, relScale)
    // SPARK_GRAFT_PROBE_REUSE=1: skip synthesis for tables already in
    // `dir` — lets a multi-batch sweep over one big corpus (100M events
    // takes minutes to write) generate once and probe many times. The
    // generators are deterministic LCG, so a reused corpus is identical
    // to a regenerated one. A manifest of the generation parameters is
    // written beside the tables and reuse REFUSES on mismatch — a dir
    // generated with different nDocs/nVecs/nEvents/relScale would
    // otherwise be silently reused and the probe numbers mislabeled.
    val manifest =
      s"nDocs=$nDocs nVecs=$nVecs nEvents=$nEvents relScale=$relScale skewPct=$skewPct"
    val manifestPath = java.nio.file.Paths.get(s"$dir/MANIFEST")
    val reuse = sys.env.get("SPARK_GRAFT_PROBE_REUSE").contains("1") && {
      val ok = java.nio.file.Files.exists(manifestPath) &&
        new String(java.nio.file.Files.readAllBytes(manifestPath),
          java.nio.charset.StandardCharsets.UTF_8) == manifest
      if (!ok && java.nio.file.Files.exists(manifestPath))
        sys.error(s"PROBE_REUSE refused: $dir was generated with '" +
          new String(java.nio.file.Files.readAllBytes(manifestPath),
            java.nio.charset.StandardCharsets.UTF_8) +
          s"' but this run wants '$manifest' — delete the dir or match the params")
      // pre-manifest dirs (tables present, no MANIFEST) can't be trusted
      // as this parameter set — say so LOUDLY instead of silently burning
      // minutes regenerating a 100M-event corpus the caller thought cached
      if (!ok && !java.nio.file.Files.exists(manifestPath))
        System.err.println(s"[probe] PROBE_REUSE=1 but no MANIFEST in $dir" +
          " — regenerating from scratch (reuse applies only to dirs this" +
          " probe wrote)")
      ok
    }
    // invalidate BEFORE generating: a crash mid-synthesis must not leave
    // the old manifest legitimizing a half-regenerated corpus for a later
    // reuse run (the manifest is rewritten only after generation succeeds)
    if (!reuse) java.nio.file.Files.deleteIfExists(manifestPath)
    def have(table: String): Boolean =
      reuse && new java.io.File(s"$dir/$table.parquet/_SUCCESS").exists()
    import spark.implicits._

    // -- synthesize documents: LCG text over the fixture vocabulary;
    //    every 100th doc is a near-dup of its predecessor (one token off)
    def lcg(s: Long): Long = s * 6364136223846793005L + 1442695040888963407L
    if (!have("documents")) spark.range(nDocs).select(col("id").as("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val base = if (id % 100 == 99) id - 1 else id   // near-dup source
          var s = lcg(base ^ 0x5DEECE66DL)
          val n = 10 + java.lang.Math.floorMod(s >>> 16, 90L).toInt
          val sb = new StringBuilder
          var i = 0
          while (i < n) {
            s = lcg(s)
            sb.append(Vocab(java.lang.Math.floorMod(s >>> 16, Vocab.length.toLong).toInt))
            if (i < n - 1) sb.append(' ')
            i += 1
          }
          if (id % 100 == 99) sb.append(" dup")            // 1-token difference
          val text = sb.toString
          (id, text, "en", s"src${id % 20}", text.length.toLong)
        }
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")

    // -- synthesize embeddings: unit-ish LCG vectors; every 50th is a
    //    near-copy of its predecessor (tiny perturbation)
    if (!have("embeddings")) spark.range(nVecs).select(col("id").as("vec_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val base = if (id % 50 == 49) id - 1 else id
          var s = lcg(base ^ 0xBADC0FFEL)
          val v = Array.fill(64) {
            s = lcg(s)
            ((s >>> 11).toDouble / (1L << 53).toDouble - 0.5).toFloat
          }
          if (id % 50 == 49) v(0) = v(0) + 1e-4f
          (id, v.toSeq, (id % 7).toInt)
        }
      }.toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")

    // -- synthesize events (opt-in via the 5th arg): the fixture's shape
    //    at scale — ~67 events/user over a fixed 34-day span (event
    //    DENSITY grows with n while per-user session structure stays
    //    constant, so sessions/windows/funnels should scale linearly),
    //    5 weighted event types, 2-dp values, {"k": int} props. `ts` is
    //    written as BIGINT epoch-nanos (µs-aligned) — Tables.eventsTs
    //    normalizes it exactly as it does the fixture's TIMESTAMP(NANOS).
    if (nEvents > 0 && !have("events")) {
      val nUsers = math.max(1L, nEvents / 67)
      val epoch2024Nanos = 1704067200L * 1000000000L  // 2024-01-01T00:00Z
      val spanMicros = 34L * 24 * 3600 * 1000000L
      spark.range(nEvents).select(col("id").as("event_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            var s = lcg(id ^ 0x0E7E57AC1DL)
            val ts = epoch2024Nanos +
              java.lang.Math.floorMod(s >>> 13, spanMicros) * 1000L
            s = lcg(s)
            val uniform = java.lang.Math.floorMod(s >>> 17, nUsers)
            val user =
              if (skewPct > 0 && java.lang.Math.floorMod(s >>> 5, 100L) < skewPct) 0L
              else uniform
            s = lcg(s)
            val ty = java.lang.Math.floorMod(s >>> 19, 20L) match {
              case x if x < 8  => "view"
              case x if x < 13 => "click"
              case x if x < 15 => "purchase"
              case x if x < 17 => "error"
              case _           => "signup"
            }
            s = lcg(s)
            val value = java.lang.Math.floorMod(s >>> 21, 100000L) / 100.0
            s = lcg(s)
            val k = java.lang.Math.floorMod(s >>> 23, 100L)
            (id, ts, user, ty, value, s"""{"k": $k}""")
          }
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    }

    // -- scale the TPC-H-ish tables (opt-in via the 6th arg): dims copied
    //    verbatim from the sf0.1 fixture, the two fact tables replicated
    //    relScale× with the order key shifted per replica (so joins stay
    //    key-consistent while per-customer/part fan-out grows with scale —
    //    what another decade of orders against a stable dimension base
    //    looks like). relScale=10 ≈ TPC-H sf1 row counts.
    if (relScale > 0 && !have("lineitem")) {
      val relSrc = sys.env.getOrElse("SPARK_GRAFT_REL_SRC", "/root/testdata/sf0.1")
      Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
        spark.read.parquet(s"$relSrc/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
      }
      val stride = 1L << 32
      Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey").foreach {
        case (t, key) =>
          val base = spark.read.parquet(s"$relSrc/$t.parquet")
          val replicas = (0 until relScale)
            .map(i => base.withColumn(key, col(key) + lit(i * stride)))
            .reduce(_ union _)
          // skewPct > 0 on the relational side: ONE mega-order whose
          // basket holds ~every distinct part (a deterministic sample of
          // real lines re-keyed to a single order) — the adversarial
          // shape for the basket-capped graph queries (part_affinity /
          // part_pagerank): uncapped it would emit |parts|² pairs from
          // one basket; the cap must hold pair count AND wall time flat.
          val out =
            if (skewPct > 0 && t == "lineitem")
              replicas.union(
                base.filter(col("l_orderkey") % 1000 === 0)
                  .withColumn(key, lit(relScale.toLong * stride + 1L)))
            else replicas
          out.write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
      }
    }

    java.nio.file.Files.write(manifestPath,
      manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"""{"corpus":"$dir","n_docs":$nDocs,"n_vecs":$nVecs,"n_events":$nEvents,"rel_scale":$relScale}""")
    def noopSec(df: => DataFrame): Double = GraftSession.noopSeconds(spark)(df)
    selected.foreach { name =>
      val (dt, res) = GraftSession.timedNoop(spark)(SparkEntry.queries(name)(spark, dir)) match {
        case (s, None) => (s, "ok")
        case (s, Some(NonFatal(e))) => (s, s"FAIL ${e.getClass.getSimpleName}")
        case (_, Some(fatal)) => throw fatal
      }
      // Locale.ROOT: the f-interpolator uses the default locale, which
      // would emit comma decimals (invalid JSON) on non-English JVMs
      println(String.format(java.util.Locale.ROOT,
        """{"query":"%s","sec":%.2f,"status":"%s"}""", name, Double.box(dt), res))
    }
    // -- dedup recall of the INJECTED near-copies (every 50th vector is
    //    a perturbed copy of its predecessor, cosine ≈ 1): the LSH-blocked
    //    dedup must keep finding them as bucket geometry shifts with n.
    //    Join-based count — found pairs never collect to the driver.
    if (selected.contains("embedding_dedup_lsh")) {
      val found = SparkEntry.queries("embedding_dedup_lsh")(spark, dir)
        .select("vec_a", "vec_b")
      val expected = spark.range(nVecs).filter(col("id") % 50 === 49)
        .select((col("id") - 1).as("vec_a"), col("id").as("vec_b"))
      val nExp = expected.count()
      val hit = if (nExp == 0) 0L
        else found.join(expected, Seq("vec_a", "vec_b")).count()
      println(String.format(java.util.Locale.ROOT,
        """{"query":"embedding_dedup_lsh","recall_injected":%.3f,"n_expected":%d,"n_vecs":%d}""",
        Double.box(if (nExp == 0) 0.0 else hit.toDouble / nExp),
        Long.box(nExp), Long.box(nVecs)))
    }

    // -- incremental-dedup |delta| scaling: with the base index warm
    //    (the Substrate sinks persist for the session), time the
    //    delta pass at 10% and 1% shards of the SAME corpus — the pair
    //    of points that separates |delta|-scaling from |corpus|-scaling.
    //    First run per mod builds the index untimed (production builds
    //    it once, amortized over every later shard).
    if (selected.contains("dedup_delta")) {
      Seq(10L, 100L).foreach { m =>
        queries.Dedup.dedupDelta(spark, dir, m)
          .write.format("noop").mode("overwrite").save()
        val dt = noopSec(queries.Dedup.dedupDelta(spark, dir, m))
        println(String.format(java.util.Locale.ROOT,
          """{"query":"dedup_delta_warm","delta_mod":%d,"sec":%.2f}""",
          Long.box(m), Double.box(dt)))
      }
    }

    // -- batch-retrieval ANN: complete a |Q| = 100k retrieval through
    //    the executor-built LUTs — a workload whose 8×256 LUTs alone
    //    would be ~200 MB of driver state if the query vectors were
    //    collected (the r9 verdict #5 observable). Driver state here
    //    stays O(codebook).
    // nVecs >= 2 guard: nQ = nVecs/2 is 0 on a degenerate config, and
    // annCosineIvfPqBatch's require(nQueries > 0) would kill the whole
    // probe run instead of skipping the bulk point (ADVICE r10).
    if (selected.contains("ann_cosine_ivfpq_batch") && nVecs >= 2) {
      val nQ = math.min(100000L, nVecs.toLong / 2)
      spark.catalog.clearCache()
      val (dt, nRows) = GraftSession.timed(queries.Similarity
        .annCosineIvfPqBatch(spark, dir, nQueries = nQ).count())
      println(String.format(java.util.Locale.ROOT,
        """{"query":"ann_batch_bulk","n_queries":%d,"rows":%d,"sec":%.2f}""",
        Long.box(nQ), Long.box(nRows), Double.box(dt)))
    }

    // -- table-profile path A/B at probe scale: the registered
    //    `table_profile_approx` is the bound-check VERIFICATION twin
    //    (exact + approx per column, by design); the production 100 TB
    //    audit pass is tableProfileApproxRaw — ONE scan, HLL only, no
    //    Expand. This block prices all three so the twin's bench line
    //    is never mistaken for the production cost.
    if (selected.contains("table_profile_approx") && relScale > 0) {
      Seq("exact" -> ((s: SparkSession, d: String) =>
            queries.Relational.tableProfile(s, d)),
          "approx_twin" -> ((s: SparkSession, d: String) =>
            queries.Relational.tableProfileApprox(s, d)),
          "approx_raw" -> ((s: SparkSession, d: String) =>
            queries.Relational.tableProfileApproxRaw(s, d)))
        .foreach { case (label, fn) =>
          val dt = noopSec(fn(spark, dir))
          println(String.format(java.util.Locale.ROOT,
            """{"query":"table_profile_paths","path":"%s","sec":%.2f}""",
            label, Double.box(dt)))
        }
    }

    // -- theilsen iterative-prune cost tracking (r10 verdict #7): after
    //    the main loop ran revenue_trend_theilsen, report Selection's
    //    last-call instrumentation (prune rounds + driver-collected band
    //    size) so the MaxRounds-bound fallback to the boxed percentile
    //    is tracked, not rediscovered. relScale=1 replays sf0.1 exactly.
    if (selected.contains("revenue_trend_theilsen") && relScale > 0) {
      println(String.format(java.util.Locale.ROOT,
        """{"query":"theilsen_selection_state","rounds":%d,"collected":%d}""",
        Int.box(operators.Selection.lastRounds),
        Int.box(operators.Selection.lastCollected)))
    }

    // -- multi-touch salt A/B under user skew: same result either way
    //    (ArgsSpec pins salt-invariance), but with one bot user owning
    //    ~skewPct% of events, salts=1 concentrates that user's whole
    //    7-day window of clicks×purchase-probes on single (user, bin)
    //    tasks; salts=8 must spread it ~8× (r9 verdict #7 observable).
    // the pseudo-name "multi_touch_salt" in `only` runs JUST this grid —
    // the main loop's uncapped registered run is not survivable at the
    // event volumes the capped rows exist to measure
    if ((selected.contains("multi_touch_attribution") ||
         only.contains("multi_touch_salt")) && skewPct > 0) {
      // (salt, cap) grid: salts bound WHERE the hot user's pair work
      // lands; the clicks_cap bounds the intrinsic clicks×purchases
      // OUTPUT volume itself (r10 verdict #1 — the capped row is the
      // shipped bounded mode a 100 TB run reaches for at high bot share).
      // SPARK_GRAFT_MT_GRID="salt:cap,salt:cap" overrides — at event
      // volumes where the UNCAPPED pair stream no longer fits the box
      // (10M events / 25% bot ≈ 32G pairs), only the capped rows are
      // runnable, which is itself the measurement.
      val grid = sys.env.get("SPARK_GRAFT_MT_GRID")
        .map(_.split(",").toSeq.map { p =>
          val Array(s, c) = p.split(":", 2); (s.trim.toInt, c.trim.toInt)
        })
        .getOrElse(Seq((1, 0), (8, 0), (8, 8)))
      grid.foreach { case (s, cap) =>
        val dt = noopSec(queries.Temporal.multiTouchAttribution(spark, dir, 7, s, cap))
        println(String.format(java.util.Locale.ROOT,
          """{"query":"multi_touch_salt","salt_bins":%d,"clicks_cap":%d,"skew_pct":%d,"sec":%.2f}""",
          Int.box(s), Int.box(cap), Int.box(skewPct), Double.box(dt)))
      }
    }

    // -- kNN edge-substrate decomposition (r10 verdict #2): the shared
    //    memoized edge build dominates every graph-family consumer, so
    //    record (a) the occupancy law — Σ occ² over the (table, sig)
    //    buckets at the derived width, vs the uniform-law prediction
    //    32·n²/2^bits — and (b) edge-build stage time (first knn_graph
    //    call builds the write-once sink) vs per-consumer time on the
    //    warm sink. Run with only=knn_graph,knn_components,... at
    //    several nVecs for the cost-law fit.
    if (selected.contains("knn_graph")) {
      val (bits, nV, sumSq, p99, mx) = queries.Similarity.knnBucketStats(spark, dir)
      val uniform =
        if (bits >= 63) 0.0
        else 32.0 * nV.toDouble * nV.toDouble / (1L << bits).toDouble
      println(String.format(java.util.Locale.ROOT,
        """{"query":"knn_edge_occupancy","n_vecs":%d,"sig_bits":%d,"sum_occ_sq":%d,"uniform_occ_sq":%.0f,"occ_p99":%d,"occ_max":%d}""",
        Long.box(nV), Int.box(bits), Long.box(sumSq), Double.box(uniform),
        Long.box(p99), Long.box(mx)))
      // the main timing loop's knn_graph line is the COLD build (first
      // call writes the once-per-session edge sink); this re-run prices
      // the WARM path — the parquet rescan every later consumer pays —
      // so build-stage time = cold line − this line
      val warmSec = noopSec(SparkEntry.queries("knn_graph")(spark, dir))
      println(String.format(java.util.Locale.ROOT,
        """{"query":"knn_edge_warm_rescan","n_vecs":%d,"sec":%.2f}""",
        Long.box(nV), Double.box(warmSec)))
      Seq("knn_mutual", "knn_components", "label_propagation")
        .filter(selected.contains).foreach { name =>
          val dt = noopSec(SparkEntry.queries(name)(spark, dir))
          println(String.format(java.util.Locale.ROOT,
            """{"query":"knn_edge_consumer","consumer":"%s","n_vecs":%d,"sec":%.2f}""",
            name, Long.box(nV), Double.box(dt)))
        }
    }

    // -- decont substrate cold/warm A/B (r12 verdict #1 observable): the
    //    FIRST delta-gate call in a session trains the IVF quantizer and
    //    writes the three write-once sinks (assignment, split, eval
    //    side); the second call and the drift monitor read them back as
    //    bucketed scans. Pseudo-query (only=decont_substrate_ab).
    if (only.contains("decont_substrate_ab")) {
      val cold = noopSec(queries.Curation.semanticDecontaminationDelta(spark, dir))
      val warm = noopSec(queries.Curation.semanticDecontaminationDelta(spark, dir))
      val drift = noopSec(queries.Similarity.ingestDrift(spark, dir))
      // the LIVE gate on the now-warm substrate: isolates the replay's
      // own work (incoming build + tokenize + placement + ledger) from
      // the substrate freeze the cold leg pays
      val replayWarm = noopSec(queries.Curation.decontGateReplay(spark, dir))
      println(String.format(java.util.Locale.ROOT,
        """{"query":"decont_substrate_ab","n_docs":%d,"n_vecs":%d,"cold_sec":%.2f,"warm_sec":%.2f,"drift_warm_sec":%.2f,"gate_replay_warm_sec":%.2f}""",
        Long.box(nDocs), Long.box(nVecs), Double.box(cold), Double.box(warm),
        Double.box(drift), Double.box(replayWarm)))
    }

    // -- composite pipeline probe (r12 verdict #7): ONE end-to-end chain
    //    ingest gate -> drift monitor -> near-dedup -> quality gate ->
    //    pack, in one session with NO cache clearing between stages —
    //    the per-family tables price each stage alone; this number makes
    //    a regression in the SEAMS (substrate reuse, sink policy, cache
    //    interplay) visible across rounds. Stages run the registered
    //    queries verbatim. Pseudo-query (only=pipeline_composite).
    if (only.contains("pipeline_composite")) {
      def stage(label: String)(name: String): (String, Double) =
        label -> GraftSession.timed(SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save())._1
      val stages = Seq(
        stage("gate_decont")("decont_gate_replay"),
        stage("monitor_drift")("ingest_drift_replay"),
        stage("gate_dedup")("dedup_gate_replay"),   // added r13-cont.; earlier
                                                    // stages stay comparable
        stage("dedup_minhash")("minhash_lsh_dedup"),
        stage("quality_gate")("quality_gate"),
        stage("pack")("sequence_pack"))
      val body = stages.map { case (l, s) =>
        String.format(java.util.Locale.ROOT, """"%s":%.2f""", l, Double.box(s))
      }.mkString(",")
      println(String.format(java.util.Locale.ROOT,
        """{"query":"pipeline_composite","n_docs":%d,"n_vecs":%d,%s,"total_sec":%.2f}""",
        Long.box(nDocs), Long.box(nVecs), body,
        Double.box(stages.map(_._2).sum)))
    }

    // -- live-ingest per-batch latency: the production metric of the
    //    four-kernel nightly stream (decont gate, dedup gate, occupancy
    //    drift, quality drift) — warm the frozen side once, then run
    //    the delta shard through NB batches (split by (doc_id div 10)
    //    mod NB, id-ordered) threading each kernel's state exactly as a
    //    foreachBatch sink would, and report per-kernel seconds per
    //    batch (median + max). Pseudo-query (only=live_ingest_stream).
    if (only.contains("live_ingest_stream")) {
      val nb = 10
      val shardDf = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 10 === 9)
        .join(spark.read.parquet(s"$dir/embeddings.parquet"),
          col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
      def batchOf(i: Int) =
        shardDf.filter((col("doc_id").divide(10).cast("long")) % nb === i)
      // freeze/warm the static side so batch timings measure the kernels
      batchOf(0).limit(1).collect()
      queries.Curation.decontGateBatch(spark, dir, batchOf(0).limit(1))
        .write.format("noop").mode("overwrite").save()
      queries.Dedup.dedupGateBatch(spark, dir,
        batchOf(0).select("doc_id", "text").limit(1), 10L, None)
        .write.format("noop").mode("overwrite").save()
      queries.Similarity.ingestDriftBatch(spark, dir,
        batchOf(0).select(col("doc_id").as("vec_id"), col("embedding"))
          .limit(1))._2.write.format("noop").mode("overwrite").save()
      queries.TextAnalysis.qualityDriftBatch(spark, dir,
        batchOf(0).select("doc_id", "text").limit(1))._2
        .write.format("noop").mode("overwrite").save()
      var driftState = Map.empty[Int, Long]
      var qualState = Map.empty[Long, Long]
      // dedup-gate state: the PRODUCTION protocol — per-batch band rows
      // and hash arrays appended to parquet state dirs, read back as the
      // prior for the next batch (never re-shingled from text)
      val stateBands = s"$dir/gate_state_bands"
      val stateHv = s"$dir/gate_state_hv"
      def rmDir(p: String): Unit = Substrate.deleteRecursively(new java.io.File(p))
      rmDir(stateBands); rmDir(stateHv)
      val times = Map("decont" -> scala.collection.mutable.ArrayBuffer.empty[Double],
        "dedup" -> scala.collection.mutable.ArrayBuffer.empty[Double],
        "drift" -> scala.collection.mutable.ArrayBuffer.empty[Double],
        "quality" -> scala.collection.mutable.ArrayBuffer.empty[Double])
      def t(k: String)(body: => Unit): Unit = times(k) += GraftSession.timed(body)._1
      var batchRows = 0L
      (0 until nb).foreach { i =>
        // a stream delivers MATERIALIZED rows — feed the kernels a
        // parquet-backed batch, not the doc⋈emb join lineage (which
        // every kernel action would otherwise re-execute)
        val bDir = s"$dir/gate_batch_$i"
        rmDir(bDir)
        batchOf(i).write.parquet(bDir)
        val b = spark.read.parquet(bDir)
        batchRows += b.count()
        t("decont")(queries.Curation.decontGateBatch(spark, dir, b)
          .write.format("noop").mode("overwrite").save())
        val prior = if (i == 0) None else Some(
          (spark.read.parquet(stateBands), spark.read.parquet(stateHv)))
        t("dedup") {
          val (led, bands, hv) = queries.Dedup.dedupGateBatchFull(spark, dir,
            b.select("doc_id", "text"), 10L, prior)
          led.write.format("noop").mode("overwrite").save()
          bands.write.mode("append").parquet(stateBands)
          hv.write.mode("append").parquet(stateHv)
        }
        t("drift") {
          val (s2, led) = queries.Similarity.ingestDriftBatch(spark, dir,
            b.select(col("doc_id").as("vec_id"), col("embedding")), driftState)
          driftState = s2
          led.write.format("noop").mode("overwrite").save()
        }
        t("quality") {
          val (s2, led) = queries.TextAnalysis.qualityDriftBatch(spark, dir,
            b.select("doc_id", "text"), qualState)
          qualState = s2
          led.write.format("noop").mode("overwrite").save()
        }
      }
      def stats(k: String): String = {
        val s = times(k).sorted
        val series = times(k).map(v => String.format(
          java.util.Locale.ROOT, "%.1f", Double.box(v))).mkString("[", ",", "]")
        String.format(java.util.Locale.ROOT,
          """"%s_med_sec":%.2f,"%s_max_sec":%.2f,"%s_series":%s""",
          k, Double.box(s(s.length / 2)), k, Double.box(s.last), k, series)
      }
      println(String.format(java.util.Locale.ROOT,
        """{"query":"live_ingest_stream","n_docs":%d,"n_vecs":%d,"n_batches":%d,"shard_rows":%d,%s,%s,%s,%s}""",
        Long.box(nDocs), Long.box(nVecs), Integer.valueOf(nb),
        Long.box(batchRows), stats("decont"), stats("dedup"),
        stats("drift"), stats("quality")))
    }

    // -- minhash band-geometry A/B (the closed-vocabulary occupancy
    //    wall): run the candidate-stage cost accounting at the FIXED
    //    fixture geometry (4 rows × 32 bands) and at the corpus-derived
    //    geometry, same hv cache (first leg carries the md5 pass + cache
    //    build). bucket_pairs = Σ C(occ,2) over (band, bv) buckets — the
    //    pair enumeration work the bucket join pays before the length
    //    filter; the derived law is judged on bucket_pairs growth vs n,
    //    recall on verified_pairs (injected dups are n/100 exactly).
    //    Pseudo-query (only=minhash_geometry).
    if (only.contains("minhash_geometry")) {
      val derived = queries.Dedup.derivedBandGeometry(nDocs)
      val geoms = Seq("fixture" -> Some((4, 32)), "derived" -> Some(derived))
        .distinctBy(_._2)
      geoms.foreach { case (leg, g) =>
        val (sec, st) = GraftSession.timed(queries.Dedup.minhashGeometryStats(spark, dir, g))
        val body = st.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        println(String.format(java.util.Locale.ROOT,
          """{"query":"minhash_geometry","leg":"%s",%s,"sec":%.2f}""",
          leg, body, Double.box(sec)))
      }
    }

    // -- bitmap_distinct partial wire bytes at the 2²⁶ id-domain cap
    //    (r11 verdict #2 observable): per (group × partition) partial,
    //    dense BitSet.toByteArray vs the shipped density-adaptive
    //    encoding, across the cardinality range a map-side partial
    //    actually sees. Pure serializer measurement — deterministic
    //    Weyl-sequence ids spread over the full domain, no cluster work.
    if (selected.contains("events_user_bitmap_daily")) {
      val agg = functions.BitmapDistinct(
        org.apache.spark.sql.graft.Bridge.expression(lit(0L)))
      Seq(100, 10000, 1000000, 1 << 24).foreach { card =>
        val bs = new java.util.BitSet()
        var i = 0L
        var set = 0
        while (set < card) {
          val id = ((i * 2654435761L) & ((1L << 26) - 1)).toInt
          if (!bs.get(id)) { bs.set(id); set += 1 }
          i += 1
        }
        val dense = bs.toByteArray.length + 1
        val wire = agg.serialize(bs).length
        println(String.format(java.util.Locale.ROOT,
          """{"query":"bitmap_partial_bytes","cardinality":%d,"dense_bytes":%d,"wire_bytes":%d,"ratio":%.4f}""",
          Int.box(card), Int.box(dense), Int.box(wire),
          Double.box(wire.toDouble / dense)))
      }
    }

    // -- stride-k substring dedup: the per-token window frame shrinks to
    //    ~1/stride (the r10 verdict #4 escape hatch); removable-mass
    //    recall vs stride 1 stays ~1 on the injected whole-doc dups
    //    (alignments agree at offset 0). One scalar agg per point.
    if (selected.contains("substring_dedup")) {
      def massAt(stride: Int): (Double, Long) = {
        spark.catalog.clearCache()
        GraftSession.timed(queries.Dedup.substringDedup(spark, dir, stride)
          .agg(sum("removable_tokens")).head().getLong(0))
      }
      val (sec1, m1) = massAt(1)
      Seq(1 -> (sec1, m1), 4 -> massAt(4), 16 -> massAt(16)).foreach {
        case (st, (sec, m)) =>
          println(String.format(java.util.Locale.ROOT,
            """{"query":"substring_dedup_stride","stride":%d,"sec":%.2f,"removable_tokens":%d,"mass_recall_vs_stride1":%.4f}""",
            Int.box(st), Double.box(sec), Long.box(m),
            Double.box(if (m1 == 0) 0.0 else m.toDouble / m1)))
      }
    }

    // -- coverage self-announcement at probe scale: the 1-row readout
    //    must actually flag the closed-vocabulary regime the 600k probe
    //    drives the sketch into (this is the observable for the r9
    //    "recall cliff is silent" verdict item)
    if (selected.contains("containment_sketch_coverage")) {
      val r = SparkEntry.queries("containment_sketch_coverage")(spark, dir)
        .head()
      println(String.format(java.util.Locale.ROOT,
        """{"query":"containment_sketch_coverage","n_docs":%d,"n_covered":%d,"coverage":%.6f,"regime":"%s"}""",
        Long.box(r.getAs[Long]("n_docs")), Long.box(r.getAs[Long]("n_covered")),
        Double.box(r.getAs[Double]("coverage")), r.getAs[String]("regime")))
    }

    // -- containment recall of the INJECTED near-dups: every 100th doc
    //    is its predecessor plus one trailing token, so the predecessor
    //    is fully contained (ratio 1.0) — the bounded sketch path must
    //    keep finding these directed pairs as corpus density grows.
    //    Join-based count, nothing corpus-sized collects.
    if (selected.contains("containment_pairs_sketch")) {
      val found = SparkEntry.queries("containment_pairs_sketch")(spark, dir)
        .select("contained", "container")
      val expected = spark.range(nDocs).filter(col("id") % 100 === 99)
        .select((col("id") - 1).as("contained"), col("id").as("container"))
      val nExp = expected.count()
      val hit = if (nExp == 0) 0L
        else found.join(expected, Seq("contained", "container")).count()
      println(String.format(java.util.Locale.ROOT,
        """{"query":"containment_pairs_sketch","recall_injected":%.3f,"n_expected":%d,"n_docs":%d}""",
        Double.box(if (nExp == 0) 0.0 else hit.toDouble / nExp),
        Long.box(nExp), Long.box(nDocs)))
    }

    // -- ANN recall at probe scale (50 result rows per query — model-
    //    sized collects, not data)
    if (selected.exists(Set("ann_cosine_lsh", "ann_cosine_ivf", "ann_cosine_ivf_mp"))) {
      def top5(name: String): Set[(Long, Long)] =
        SparkEntry.queries(name)(spark, dir).select("qid", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bf = top5("ann_cosine_topk")
      Seq("ann_cosine_lsh", "ann_cosine_ivf", "ann_cosine_ivf_mp")
        .filter(selected.contains).foreach { name =>
        val recall = if (bf.isEmpty) 0.0
          else top5(name).intersect(bf).size.toDouble / bf.size
        println(String.format(java.util.Locale.ROOT,
          """{"query":"%s","recall_at_5":%.3f,"vs":"ann_cosine_topk","n_vecs":%d}""",
          name, Double.box(recall), Long.box(nVecs)))
      }
    }
  }
}
