package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Optional args
  * past (sfDir, outDir) restrict the dump to named queries — local
  * iteration only; the driver always runs the full set.
  *
  * NON-DEFAULT-ARG specs (local iteration; closes the r9 verdict's #4):
  * an arg of the form `name@key=val,key2=val2` runs the registry entry
  * `name`'s builder with that argument map, writes the result under the
  * full spec string, and emits the entry's ARG-TEMPLATED oracle under the
  * same key — so `tools/check.py SF OUT 'name@key=val'` hash-checks a
  * non-default-arg run cross-engine exactly like a registered query. A
  * spec naming an entry with no templated oracle fails fast (use the
  * registered entry or a rows-only check for those). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val (argSpecs, plain) = args.drop(2).partition(_.contains("@"))
    val subset = plain.toSet
    // Parse and validate every arg spec UP FRONT (fail fast, before any
    // query runs): a malformed spec ('name@k' with no '=') would otherwise
    // throw outside the per-spec try/catch AFTER some queries already
    // dumped, aborting before oracle_sql.json is written and leaving the
    // earlier results uncheckable with no _FAILED marker (ADVICE r10).
    val parsed = argSpecs.toSeq.map { spec =>
      val parts = spec.split("@", 2)
      require(parts.length == 2 && parts(0).nonEmpty,
        s"malformed arg spec '$spec' — expected name@key=val[,key2=val2]")
      val argMap = parts(1).split(",").filter(_.nonEmpty).map { kv =>
        require(kv.contains("="), s"malformed arg spec '$spec' — '$kv' has no '='")
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
      val q = SparkEntry.registry.getOrElse(parts(0), throw new IllegalArgumentException(
        s"arg spec '$spec': no registry entry named '${parts(0)}'"))
      require(q.template.isDefined, s"arg spec '$spec': registry entry '${q.name}' " +
        "has no templated oracle (it is not declared with Query.templated)")
      // rendering the oracle here runs its argument gates up front too
      (spec, q.withArgs.get, q.template.get(argMap), argMap)
    }
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // one query result -> `$outDir/$key` as one parquet file, or a _FAILED marker
    def dump(key: String)(build: => DataFrame): Unit = {
      spark.catalog.clearCache()  // drop the previous query's caches
      Files.deleteIfExists(Paths.get(s"$outDir/$key._FAILED"))  // stale marker
      try build.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$key")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $key failed: ${e.getMessage}")
        // explicit failure marker: a thrown query must surface as `err`
        // in CORRECTNESS, not silently vanish from the report (the r6
        // events_rolling_24h failure was ABSENT rather than red)
        Files.writeString(Paths.get(s"$outDir/$key._FAILED"),
          Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .filter { case _ => argSpecs.isEmpty || subset.nonEmpty }
      .foreach { case (name, fn) => dump(name)(fn(spark, sfDir)) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // name@key=val,... specs: parameterized run + templated oracle
    val argOracles = parsed.map { case (spec, build, oracle, argMap) =>
      dump(spec)(build(spark, sfDir, argMap))
      spec -> oracle
    }.toMap
    val json = (SparkEntry.oracleSql ++ argOracles)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
