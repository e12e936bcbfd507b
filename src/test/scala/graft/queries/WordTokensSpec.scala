package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Substrate, TestSpark}
import graft.functions.WordTokens
import graft.functions.WordTokens.word_tokens

/** `word_tokens` is the regex tokenizer it replaced, on every input:
  * the strings are read from parquet (a local Seq folds into a
  * LocalRelation and is evaluated interpreted), under ICU case mappings
  * on and off and under both codegen factory modes. */
class WordTokensSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val adversarial: Seq[String] = Seq(
    "", " ", "!!--??", "  leading space", "trailing sep!!", "--both--",
    "snake_case_42 __ 007 a1_b2", "_", "MiXeD CaSe ABC xyz", "x", "Q",
    "Hello, World! hello.", "The cat and the dog, THE END",
    "café ÉCOLE naïve", "straße STRASSE ẞ", "İstanbul DİYARBAKIR İ",
    "\u212A kelvin \u212Aelvin", "ΟΔΟΣ ΣΑΣ σς", "中文 text 日本語テキスト",
    "emoji 😀 here 😀x", "ﬁne ﬂow ﬀ",
    "ＦＵＬＬ ｗｉｄｔｈ ＡＢＣ１２３", "ǅ Ǆ ǆ",
    "tab\tnew\nline\r\u00A0nbsp\u2003em")

  /** Bytes that are not UTF-8: a truncated 2-byte lead, 0xFF, a stray
    * continuation byte and a truncated 3-byte sequence among ASCII. */
  private val invalid: Array[Byte] =
    Array(0x41, 0xC3, 0x42, 0xFF, 0x61, 0x80, 0x20, 0x5A, 0xE2, 0x82)
      .map(_.toByte)

  /** Seeded strings over an alphabet of ASCII words, separators and the
    * characters above. */
  private val random: Seq[String] = {
    val alphabet = "aZ9_ -.,!\téßİ\u212AΣ中ﬁＡ"
    val rnd = new scala.util.Random(17)
    Seq.fill(200)(Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))).mkString)
  }

  private val inputs: Seq[Option[Array[Byte]]] =
    None +: (adversarial ++ random).map(s => Some(s.getBytes(UTF_8))) :+ Some(invalid)

  private lazy val dir = Files.createTempDirectory("word_tokens_")

  private lazy val path: String = {
    val p = dir.resolve("strings.parquet").toString
    inputs.zipWithIndex.map { case (b, i) => (i, b) }.toDF("id", "b")
      .select(col("id"), col("b").cast("string").as("text"))
      .write.parquet(p)
    p
  }

  override def afterAll(): Unit = Substrate.deleteRecursively(dir.toFile)

  private def regexToks(c: Column): Column =
    filter(split(lower(c), "\\W+"), t => length(t) > 0)

  private val settings =
    for (icu <- Seq("true", "false"); mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
      yield (icu, mode)

  private def session(icu: String, mode: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.icu.caseMappings.enabled", icu)
    s.conf.set("spark.sql.codegen.factoryMode", mode)
    s.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
    s
  }

  /** Rows where `a` and `b` differ (null-safe), over `frame`. */
  private def mismatches(frame: DataFrame, a: Column, b: Column): Array[String] =
    frame.select(col("id"), a.as("a"), b.as("b"))
      .filter(!(col("a") <=> col("b")))
      .collect().map(_.toString)

  test("word_tokens is codegen'd and keeps split's type") {
    val e = WordTokens(org.apache.spark.sql.graft.Bridge.expression(col("text")))
    assert(!e.isInstanceOf[CodegenFallback])
    val df = spark.read.parquet(path)
    val a = df.select(word_tokens(col("text")).as("t")).schema("t").dataType
    val b = df.select(regexToks(col("text")).as("t")).schema("t").dataType
    assert(a == b && a.sql == "ARRAY<STRING>")
  }

  test("word_tokens == the regex composition: ICU on/off × CODEGEN_ONLY/NO_CODEGEN") {
    for ((icu, mode) <- settings) {
      val s = session(icu, mode)
      val rows = s.read.parquet(path)
        .select(col("id"), word_tokens(col("text")).as("w"),
          regexToks(col("text")).as("r"))
        .collect()
      assert(rows.length == inputs.size, s"icu=$icu mode=$mode")
      val bad = rows.filter(r => r.get(1) != r.get(2)).map(_.toString)
      assert(bad.isEmpty, s"icu=$icu mode=$mode: ${bad.mkString("; ")}")
      // non-vacuous: NULL in, NULL out; tokens found; a non-ASCII letter
      // that lowers to ASCII (Kelvin sign) surfaces as a word
      assert(rows.count(_.isNullAt(1)) == 1)
      assert(rows.map(_.getSeq[String](1)).exists(t => t != null && t.contains("kelvin")))
      assert(rows.map(_.getSeq[String](1)).exists(t => t != null && t.contains("k")))
    }
  }

  test("the text column is unchanged after tokenizing in the same projection") {
    for ((icu, mode) <- settings) {
      val s = session(icu, mode)
      val rows = s.read.parquet(path)
        .select(col("id"), word_tokens(col("text")).as("w"),
          col("text").cast("binary").as("after"))
        .orderBy("id").collect()
      val after = rows.map(r => Option(r.getAs[Array[Byte]]("after")).map(_.toSeq))
      assert(after.toSeq == inputs.map(_.map(_.toSeq)), s"icu=$icu mode=$mode")
    }
  }

  test("normText and the gopherLabeled rewrites equal the old expressions") {
    val stops = array(TextAnalysis.GopherStops.map(lit): _*)
    val docs01 = graft.Tables.documents(spark,
      new java.io.File(TestSpark.sf).getParentFile.toPath.resolve("sf0.01").toString)
      .select(col("doc_id").as("id"), col("text"))
    for (frame <- Seq(spark.read.parquet(path), docs01)) {
      val t = frame.withColumn("t", TextAnalysis.toks(col("text")))
      assert(mismatches(t, TextAnalysis.normText(col("text")),
        trim(regexp_replace(lower(col("text")), "\\W+", " "))).isEmpty)
      assert(mismatches(t, length(array_join(col("t"), "")).cast("long"),
        aggregate(col("t"), lit(0L), (a, x) => a + length(x))).isEmpty)
      assert(mismatches(t, size(array_intersect(col("t"), stops)),
        size(filter(array_distinct(col("t")), x => array_contains(stops, x)))).isEmpty)
      // non-vacuous: some row hits a stopword and has a multi-word norm
      assert(t.filter(size(array_intersect(col("t"), stops)) > 0).count() > 0)
      assert(t.filter(TextAnalysis.normText(col("text")).contains(" ")).count() > 0)
    }
  }

  test("WordTokens.words == the JVM regex split of lowercased text") {
    for (s <- adversarial ++ random :+ new String(invalid, UTF_8)) {
      val lowered = s.toLowerCase(java.util.Locale.ROOT)
      assert(WordTokens.words(lowered).toSeq ==
        lowered.split("\\W+").filter(_.nonEmpty).toSeq, s)
    }
  }
}
