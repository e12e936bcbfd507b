package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The engine's one tokenizer: the words of `lower(text)`, meaning the
  * maximal runs of `[A-Za-z0-9_]` bytes, in one byte scan with
  * whole-stage codegen. Its output equals Spark's regex split of
  * `lower(text)` on `\W+` with the empty strings filtered out, for every
  * input, NULL included (Java's `\W` is ASCII-only, so every non-ASCII
  * character separates words), and keeps that composition's type:
  * `array<string>` without NULL elements.
  *
  * Why an Expression: the composition runs a Java-regex split through a
  * `String` round trip, then a per-token lambda that is interpreted and,
  * being a `CodegenFallback`, drags `lower` out of codegen with it.
  *
  * Lowercasing: a full-ASCII UTF8_BINARY row is lowered A–Z inside the
  * scan. Any other row is first lowered by Spark's own `Lower` (same
  * collation, same `spark.sql.icu.caseMappings.enabled` setting, read
  * the way `Lower` reads it), because a non-ASCII letter can lower to
  * ASCII (Kelvin sign → `k`, `İ` → `i` + U+0307). The ASCII path never
  * loads `CollationAwareUTF8String`, whose static init (every code
  * point through ICU title-casing, once per JVM) otherwise lands in the
  * first task that lowers a string.
  *
  * Tokens are slices of one fresh per-row buffer; the input's bytes
  * (which `UTF8String.getBytes` may hand out as the row's own array)
  * are only read. */
case class WordTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"word_tokens expects a string, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_tokens"

  private lazy val collationId: Int = child.dataType.asInstanceOf[StringType].collationId
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(s: Any): Any =
    WordTokens.tokens(s.asInstanceOf[UTF8String], collationId, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = ${classOf[WordTokens].getName}.tokens($s, $collationId, $useICU);")

  override protected def withNewChildInternal(newChild: Expression): WordTokens =
    copy(child = newChild)
}

object WordTokens {
  /** Column API for [[WordTokens]]. */
  def word_tokens(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      WordTokens(org.apache.spark.sql.graft.Bridge.expression(c)))

  /** A word byte or char: `[A-Za-z0-9_]`, the complement of Java's `\W`.
    * A negative (non-ASCII) byte is never one. */
  private def isWord(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  /** [[WordTokens]]' evaluation, shared by codegen and the interpreter. */
  def tokens(s: UTF8String, collationId: Int, useICU: Boolean): ArrayData = {
    val ascii =
      if (collationId == CollationFactory.UTF8_BINARY_COLLATION_ID) scan(s, asciiOnly = true)
      else null
    if (ascii != null) ascii
    else scan(CollationSupport.Lower.exec(s, collationId, useICU), asciiOnly = false)
  }

  /** Words of `s` lowered A–Z, or null when `asciiOnly` and `s` holds a
    * non-ASCII byte. Pass one counts words and word bytes; pass two
    * copies the lowered words into one buffer and slices it. */
  private def scan(s: UTF8String, asciiOnly: Boolean): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var words = 0
    var wordBytes = 0
    var inWord = false
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b < 0 && asciiOnly) return null
      if (isWord(b)) {
        if (!inWord) { words += 1; inWord = true }
        wordBytes += 1
      } else inWord = false
      i += 1
    }
    val buf = new Array[Byte](wordBytes)
    val out = new Array[Any](words)
    var w = 0
    var p = 0
    var start = 0
    inWord = false
    i = 0
    while (i <= n) {
      val b = if (i < n) Platform.getByte(base, off + i) else 0
      if (isWord(b)) {
        if (!inWord) { start = p; inWord = true }
        buf(p) = (if (b >= 'A' && b <= 'Z') b + 32 else b).toByte
        p += 1
      } else if (inWord) {
        out(w) = UTF8String.fromBytes(buf, start, p - start)
        w += 1
        inWord = false
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The same scan over a JVM string its caller has already lowercased:
    * the non-empty pieces of `lowered` split on `\W+`, without the regex. */
  def words(lowered: String): Array[String] = {
    val out = Array.newBuilder[String]
    val n = lowered.length
    var i = 0
    while (i < n) {
      while (i < n && !isWord(lowered.charAt(i))) i += 1
      val start = i
      while (i < n && isWord(lowered.charAt(i))) i += 1
      if (i > start) out += lowered.substring(start, i)
    }
    out.result()
  }
}
