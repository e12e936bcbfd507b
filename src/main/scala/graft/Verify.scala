package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Optional args
  * past (sfDir, outDir) restrict the dump to named queries — local
  * iteration only; the driver always runs the full set.
  *
  * NON-DEFAULT-ARG specs (local iteration; closes the r9 verdict's #4):
  * an arg of the form `name@key=val,key2=val2` runs
  * SparkEntry.queriesWithArgs(name) with that argument map, writes the
  * result under the full spec string, and emits the ARG-TEMPLATED oracle
  * from SparkEntry.oracleSqlWithArgs under the same key — so
  * `tools/check.py SF OUT 'name@key=val'` hash-checks a non-default-arg
  * run cross-engine exactly like a registered query. A spec naming a
  * family with no templated oracle fails fast (use the registered entry
  * or a rows-only check for those). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val (argSpecs, plain) = args.drop(2).partition(_.contains("@"))
    val subset = plain.toSet
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .filter { case _ => argSpecs.isEmpty || subset.nonEmpty }
      .foreach { case (name, fn) =>
      spark.catalog.clearCache()  // drop the previous query's caches
      Files.deleteIfExists(Paths.get(s"$outDir/$name._FAILED"))  // stale marker
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // explicit failure marker: a thrown query must surface as `err`
        // in CORRECTNESS, not silently vanish from the report (the r6
        // events_rolling_24h failure was ABSENT rather than red)
        Files.writeString(Paths.get(s"$outDir/$name._FAILED"),
          Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    // Validate every arg spec UP FRONT (fail fast, before any query runs):
    // a malformed spec ('name@k' with no '=') would otherwise throw
    // MatchError outside the per-spec try/catch AFTER some queries already
    // dumped, aborting before oracle_sql.json is written and leaving the
    // earlier results uncheckable with no _FAILED marker (ADVICE r10).
    argSpecs.foreach { spec =>
      val parts = spec.split("@", 2)
      require(parts.length == 2 && parts(0).nonEmpty,
        s"malformed arg spec '$spec' — expected name@key=val[,key2=val2]")
      parts(1).split(",").filter(_.nonEmpty).foreach { kv =>
        require(kv.contains("="),
          s"malformed arg spec '$spec' — '$kv' has no '='")
      }
      require(SparkEntry.oracleSqlWithArgs.contains(parts(0)),
        s"no templated oracle for '${parts(0)}' — " +
          "add it to SparkEntry.oracleSqlWithArgs")
      require(SparkEntry.queriesWithArgs.contains(parts(0)),
        s"no parameterized query '${parts(0)}' in SparkEntry.queriesWithArgs")
    }
    // name@key=val,... specs: parameterized run + templated oracle
    val argOracles = argSpecs.map { spec =>
      val Array(name, argStr) = spec.split("@", 2)
      val argMap = argStr.split(",").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
      val oracle = SparkEntry.oracleSqlWithArgs.getOrElse(name,
        sys.error(s"no templated oracle for '$name' — " +
          "add it to SparkEntry.oracleSqlWithArgs"))(argMap)
      spark.catalog.clearCache()
      Files.deleteIfExists(Paths.get(s"$outDir/$spec._FAILED"))
      try SparkEntry.queriesWithArgs(name)(spark, sfDir, argMap)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$spec")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $spec failed: ${e.getMessage}")
        Files.writeString(Paths.get(s"$outDir/$spec._FAILED"),
          Option(e.getMessage).getOrElse(e.getClass.getName))
      }
      spec -> oracle
    }.toMap
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
    val json = (SparkEntry.oracleSql ++ argOracles)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
