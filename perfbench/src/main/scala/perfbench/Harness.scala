package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

import graft.{GraftSession, SparkEntry}

/** One benchmark run in one JVM. It sets up a session, runs the query
  * list once cold, then runs warm passes over the same list until the
  * time is up. Queries run one at a time: a closed loop with one client.
  * What it measured goes to `<out>/result.json`.
  *
  * Each layer is timed from outside, around the engine's public calls:
  * session set-up, the builder call `SparkEntry.queries(name)(spark, dir)`,
  * `df.queryExecution.executedPlan` and the noop-sink write. Every phase
  * runs under its own job group, `pass|query|phase`. With `--trace 1`
  * the listeners in [[Trace]] attribute Spark's jobs, stages and task
  * metrics to those groups; warm passes then alternate between traced
  * and untraced, so the listeners' cost is measured in the same run.
  *
  * After the timed passes every query writes its output once, untimed,
  * to `<out>/results/<query>` for the output check.
  *
  * Usage: perfbench.Harness --data DIR --out DIR --cpus N --launch-ms MS
  *          --queries q1,q2,... --seconds S --min-warm N --trace 0|1
  */
object Harness {

  private final case class Opts(args: Map[String, String]) {
    val data: String = args("data")
    val out: File = new File(args("out"))
    val cpus: Int = args("cpus").toInt
    val launchMs: Long = args("launch-ms").toLong
    val queries: Seq[String] = args("queries").split(",").toSeq.filter(_.nonEmpty)
    val seconds: Double = args("seconds").toDouble
    val minWarm: Int = args("min-warm").toInt
    val trace: Boolean = args("trace") == "1"
  }

  private def parse(args: Array[String]): Opts =
    Opts(args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  final case class Timing(query: String, pass: Int, build: Double,
                          plan: Double, exec: Double, error: String)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    requireCold()
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[${o.cpus}]"), o.cpus.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    warmup(spark)
    val setupMs = System.currentTimeMillis()
    val result = mutable.LinkedHashMap[String, Any](
      "session_start_s" -> (readyMs - o.launchMs) / 1e3,
      "warmup_s" -> (setupMs - readyMs) / 1e3,
      "setup_s" -> (setupMs - o.launchMs) / 1e3,
      "setup_cpu_s" -> processCpuNs() / 1e9)
    measure(spark, o, result)
    spark.stop()
    Json.write(new File(o.out, "result.json"), result)
  }

  /** Refuses to start when a write-once substrate could already exist.
    * The persistent substrate root must be unset, and the JVM's private
    * temp dir must hold no `graft_` sink, so the cold pass builds every
    * substrate it reads. */
  private def requireCold(): Unit = {
    require(!sys.env.contains("SPARK_GRAFT_SUBSTRATE_DIR") &&
      !sys.props.contains("graft.substrate.dir"),
      "a persistent substrate root is set; the cold pass would not be cold")
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val stale = Option(tmp.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("graft_"))
    require(stale.isEmpty, s"substrate dirs already exist in $tmp: ${stale.mkString(", ")}")
  }

  /** The fixed warmup, the same for every workload: one small job and
    * one small shuffle, so the scheduler, executor, codegen and shuffle
    * bootstrap of a fresh JVM is set-up time, not the first query's. */
  private def warmup(spark: SparkSession): Unit = {
    spark.range(0L, 1000L, 1L, 1).collect()
    spark.range(0L, 1000L, 1L, 1).selectExpr("id % 7 AS k").groupBy("k").count().collect()
  }

  private def measure(spark: SparkSession, o: Opts,
                      result: mutable.LinkedHashMap[String, Any]): Unit = {
    val sc = spark.sparkContext
    val trace = if (o.trace) Some(new Trace) else None
    var tracing = false
    def setTracing(on: Boolean): Unit = trace.foreach { t =>
      if (on != tracing) {
        PerfbenchBus.drain(sc)
        if (on) { sc.addSparkListener(t); spark.listenerManager.register(t) }
        else { sc.removeSparkListener(t); spark.listenerManager.unregister(t) }
        tracing = on
      }
    }
    val timings = mutable.ArrayBuffer.empty[Timing]
    val traced = mutable.Set.empty[Int]

    def phase[A](pass: Int, q: String, name: String)(f: => A): (Double, A) = {
      val group = s"$pass|$q|$name"
      sc.setJobGroup(group, q, interruptOnCancel = false)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n0 = CodeGenerator.compileTime
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val a = f
      val s = (System.nanoTime() - t0) / 1e9
      if (tracing) trace.foreach(_.phase(group, w0, System.currentTimeMillis(), s,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        CodeGenerator.compileTime - n0))
      (s, a)
    }

    val passCpu = mutable.LinkedHashMap.empty[String, Any]
    def runPass(pass: Int): Unit = {
      if (tracing) traced += pass
      val cpu0 = processCpuNs()
      o.queries.foreach { q =>
        spark.catalog.clearCache()
        var b, p, e = 0.0
        val err = try {
          val (tb, df) = phase(pass, q, "build")(SparkEntry.queries(q)(spark, o.data))
          b = tb
          p = phase(pass, q, "plan")(df.queryExecution.executedPlan)._1
          e = phase(pass, q, "exec")(df.write.format("noop").mode("overwrite").save())._1
          null
        } catch {
          case NonFatal(t) => s"${t.getClass.getName}: ${t.getMessage}"
        } finally sc.clearJobGroup()
        timings += Timing(q, pass, b, p, e, err)
      }
      passCpu(pass.toString) = (processCpuNs() - cpu0) / 1e9
    }

    setTracing(true)
    runPass(0)
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var pass = 1
    while (pass <= o.minWarm || System.nanoTime() < deadline) {
      // traced runs leave warm pass 1 untraced, then trace in an ABBA
      // order (2 and 5 traced, 3 and 4 not, ...) so that JIT warming over
      // the run does not favour either side of the comparison
      setTracing(pass >= 2 && ((pass - 2) % 4 == 0 || (pass - 2) % 4 == 3))
      runPass(pass)
      pass += 1
    }
    setTracing(false)
    result("peak_rss_mb") = peakRssMb()
    result("timings") = timings.toSeq
    result("pass_cpu_s") = passCpu
    result("traced_passes") = traced.toSeq.sorted

    val outputErrors = mutable.LinkedHashMap.empty[String, Any]
    o.queries.distinct.sorted.foreach { q =>
      spark.catalog.clearCache()
      try SparkEntry.queries(q)(spark, o.data).write.mode("overwrite")
        .parquet(new File(o.out, s"results/$q").getPath)
      catch {
        case NonFatal(t) => outputErrors(q) = s"${t.getClass.getName}: ${t.getMessage}"
      }
    }
    result("output_errors") = outputErrors
    trace.foreach(_.write(o.out))
  }

  /** CPU time of all threads of this JVM. Time the host runs other
    * guests on the box's CPUs (steal) is not in it. */
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident memory of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Writes the few JSON shapes the harness emits. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.lang.String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case p: Product if !p.isInstanceOf[Iterable[_]] =>
      render(p.productElementNames.zip(p.productIterator).toSeq
        .foldLeft(mutable.LinkedHashMap.empty[String, Any])(_ += _))
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= "\\u%04x".format(c.toInt)
      case c => sb += c
    }
    (sb += '"').toString
  }

  def write(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      (render(v) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def writeLines(f: File, rows: Iterator[Any]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try rows.foreach(r => w.println(render(r))) finally w.close()
  }
}

/** Dumps the DuckDB twin of each named query (`SparkEntry.oracleSql`) as
  * one JSON object, for the output check on generated corpora.
  * Usage: perfbench.OracleSql OUT_FILE q1,q2,... */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val names = args(1).split(",").toSeq.filter(_.nonEmpty)
    Json.write(new File(args(0)),
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
        .toSeq.sortBy(_._1).foldLeft(mutable.LinkedHashMap.empty[String, Any])(_ += _))
  }
}
