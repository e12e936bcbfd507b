package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run fork'd). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

/** Golden-assert parity with the reference's tests
  * (tests/test_mapreduce.py:79-82 wordcount counts;
  * Makefile:114-126 inverted-index example; empty-input behavior
  * test_mapreduce.py:84-115). */
class TextJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `f` over a fresh corpus dir whose `documents` table is `rows`. */
  private def withDocs[A](rows: Seq[(Long, String)])(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("text_jobs_").toString
    try {
      rows.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      f(dir)
    } finally Substrate.deleteRecursively(new java.io.File(dir))
  }

  /** The shipped [[queries.TextJobs.wordcount]] over `lines` as documents. */
  private def wordcountOf(lines: Seq[String]): Map[String, Long] =
    withDocs(lines.zipWithIndex.map { case (t, i) => (i.toLong, t) }) { d =>
      queries.TextJobs.wordcount(spark, d)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

  test("wordcount matches reference golden counts (test_mapreduce.py:79-82)") {
    val counts = wordcountOf(Seq(
      "hello world", "hello python", "world of mapreduce"))
    assert(counts("hello") == 2)
    assert(counts("world") == 2)
    assert(counts("python") == 1)
    assert(counts("mapreduce") == 1)
  }

  test("empty input yields empty-but-successful output (test_mapreduce.py:84-115)") {
    assert(wordcountOf(Seq.empty[String]).isEmpty)
  }

  test("tokenizer handles punctuation + case like \\b\\w+\\b findall") {
    val counts = wordcountOf(Seq("Hello, World! hello."))
    assert(counts == Map("hello" -> 2L, "world" -> 1L))
  }

  test("inverted index: per-doc distinct, len>2 filter, sorted posting list") {
    val m = withDocs(Seq((1L, "the cat cat sat"), (2L, "a cat runs"), (3L, "no pets"))) { d =>
      queries.TextJobs.invertedIndex(spark, d)
        .collect().map(r => r.getAs[String]("word") -> r.getAs[String]("doc_ids")).toMap
    }
    assert(m("cat") == "1,2")     // deduped within doc 1
    assert(m("the") == "1")
    assert(!m.contains("a"))      // len>2 filter
    assert(!m.contains("no"))
    assert(m("sat") == "1")
  }

  test("grep: case-insensitive match + duplicate-line counts (grep example)") {
    val df = Seq("ERROR in scan", "error in scan", "all fine", "Scan done")
      .toDF("text")
      .filter(col("text").rlike("(?i)(error)"))
      .groupBy(lower(col("text")).as("t")).count()
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("error in scan" -> 2L))
  }

  test("bigrams on fixture are adjacent pairs with positive counts") {
    val rows = queries.TextJobs.bigrams(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(0).split(" ").length == 2))
    // counts descending
    val cnts = rows.map(_.getLong(1))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
  }

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all registered queries have matching column names with oracle presence") {
    // every oracleSql key must exist in queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
