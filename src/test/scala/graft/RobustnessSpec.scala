package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Reference error-skip parity (SURVEY.md §2.1 F3 / §2.3 R6): malformed
  * records degrade to nulls or get filtered, never fail the job. */
class RobustnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("malformed JSON props -> null fields, job completes (from_json)") {
    val df = Seq(
      (1L, """{"k": 42}"""),
      (2L, """{"k": "not-an-int"}"""),
      (3L, """not json at all"""),
      (4L, null.asInstanceOf[String]))
      .toDF("event_id", "props")
      .select(col("event_id"),
        from_json(col("props"), StructType.fromDDL("k INT")).getField("k").as("k"))
    val rows = df.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(rows(1L).contains(42))
    assert(rows(2L).isEmpty && rows(3L).isEmpty && rows(4L).isEmpty)
  }

  test("malformed 'id: content' lines are skipped, not fatal (E5 parity)") {
    // mirror invertedIndexRaw's parse on a frame with broken lines
    val lines = Seq("7: good content here", "no colon line", ": empty id", "8:x")
      .toDF("line")
      .withColumn("sep", instr(col("line"), ":"))
      .filter(col("sep") > 0)
      .withColumn("doc_id", col("line").substr(lit(1), col("sep") - 1))
      .filter(length(col("doc_id")) > 0)
    val ids = lines.select("doc_id").as[String].collect().toSet
    assert(ids == Set("7", "8"))
  }

  test("Hist.bounded: wide-range key fails the occupancy guard, bounded key passes") {
    // adversarial fixture: an unquantised key with more distinct values
    // than the cap — the shape a raw nanosecond/float column produces.
    // The guard must fail fast (and ship at most cap+1 rows doing it),
    // not OOM the driver.
    val wide = spark.range(10000).groupBy("id").agg(count(lit(1)).as("cnt"))
    val e = intercept[IllegalArgumentException] {
      queries.Hist.bounded(wide, "spec_adversarial", maxCells = 1000)
    }
    assert(e.getMessage.contains("spec_adversarial") &&
      e.getMessage.contains("sketch"), e.getMessage)
    // a genuinely value-range-bounded histogram passes under the same cap
    val narrow = spark.range(10000).select((col("id") % 97).as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
    assert(queries.Hist.bounded(narrow, "spec_bounded", maxCells = 1000)
      .length == 97)
    // and the four production sites' fixture histograms clear the real cap
    // (they run inside their queries — smoke one directly)
    assert(queries.Relational.revenueParetoShare(spark, TestSpark.sf)
      .collect().nonEmpty)
  }

  test("stratified sample is stable under repartitioning (hash-gated, not rand)") {
    val a = queries.Temporal.stratifiedSample(spark, TestSpark.sf)
      .collect().map(_.getLong(0)).toSeq
    val b = queries.Temporal.stratifiedSample(spark, TestSpark.sf)
      .repartition(13).orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(a == b && a.nonEmpty)
    // strata roughly honor their fractions
    val byLang = queries.Temporal.stratifiedSample(spark, TestSpark.sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = Tables.documents(spark, TestSpark.sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang.foreach { case (lang, n) =>
      val frac = n.toDouble / totals(lang)
      val target = if (lang == "en") 0.5 else 0.2
      assert(math.abs(frac - target) < 0.2, s"$lang: $frac vs $target")
    }
  }
}
