package graft.functions.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native text primitives — semantics identical to the
  * `org.apache.spark.sql.functions` compositions in
  * [[graft.functions.TextFunctions]] (the reference implementations;
  * tests assert equivalence), but evaluated as tight byte-level loops
  * instead of per-element interpreted lambda calls. On the sf0.1
  * bench the higher-order-function formulations dominate the text
  * queries' runtime; these cut the hot ones by ~2-20x.
  */

/** The one definition of a token, shared by [[Tokenize]] and
  * [[TokenCounts]]: a maximal run of non-delimiter bytes of
  * `lower(text)`, the delimiters being StringTokenizer's `" \t\n\r\f"`.
  *
  * An all-ASCII document is scanned as it is, folding A-Z byte by byte
  * while copying each token out (exactly what `UTF8String.toLowerCase`
  * does to ASCII); any other document is scanned after that exact
  * `toLowerCase`. Delimiters are all ASCII, and UTF-8 continuation
  * bytes are >= 0x80, so a byte-level scan never splits a multibyte
  * character.
  *
  * A subclass receives each token as `buf(start until start + len)`
  * together with its hash. With `keepTokens` every document gets a
  * fresh `buf` and its tokens are laid out one after another, so a
  * token may be wrapped without a copy; without it `buf` is reused
  * and a token's bytes are valid only during the `token` call.
  * Without `fold` the text is split as it is, case kept: the
  * reference's raw `StringTokenizer` tokens.
  */
private[graft] abstract class TokenScanner(keepTokens: Boolean, fold: Boolean = true) {
  protected var buf: Array[Byte] = Array.emptyByteArray

  protected def token(start: Int, len: Int, hash: Int): Unit

  final def scan(text: UTF8String): Unit =
    if (fold) scanFolded(text) else scanCased(text)

  private def scanFolded(text: UTF8String): Unit = {
    val src = if (text.isFullAscii) text else text.toLowerCase
    val base = src.getBaseObject
    val off = src.getBaseOffset
    val n = src.numBytes
    // a token is never longer than its document
    if (keepTokens) buf = new Array[Byte](n)
    else if (buf.length < n) buf = new Array[Byte](math.max(n, buf.length * 2))
    val out = buf
    var w = 0
    var start = 0
    var h = 0
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (TokenScanner.isDelim(b)) {
        if (w > start) {
          token(start, w - start, TokenScanner.finish(h, w - start))
          if (!keepTokens) w = 0
          start = w
          h = 0
        }
      } else {
        val lb = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        out(w) = lb
        h = 31 * h + lb
        w += 1
      }
      i += 1
    }
    if (w > start) token(start, w - start, TokenScanner.finish(h, w - start))
  }

  /** The same split over the text as it is: each document is copied
    * into `buf` whole and its tokens hashed where they lie.
    */
  private def scanCased(text: UTF8String): Unit = {
    if (keepTokens || buf.length < text.numBytes) buf = new Array[Byte](text.numBytes)
    text.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
    var start = 0
    var h = 0
    for (i <- 0 to text.numBytes)
      if (i < text.numBytes && !TokenScanner.isDelim(buf(i))) h = 31 * h + buf(i)
      else {
        if (i > start) token(start, i - start, TokenScanner.finish(h, i - start))
        start = i + 1
        h = 0
      }
  }
}

private[graft] object TokenScanner {
  // bits 9 (\t), 10 (\n), 12 (\f), 13 (\r) and 32 (' ')
  private val DelimMask = (1L << 9) | (1L << 10) | (1L << 12) | (1L << 13) | (1L << 32)

  @inline def isDelim(b: Byte): Boolean = {
    val u = b & 0xff
    u <= 32 && ((DelimMask >>> u) & 1L) != 0
  }

  /** Murmur3's 32-bit finalizer over the polynomial byte hash. */
  @inline private def finish(h0: Int, len: Int): Int = {
    var h = h0 ^ len
    h ^= h >>> 16
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }
}

/** lower + split on StringTokenizer delimiters (" \t\n\r\f") + drop
  * empties == `filter(split(lower(text), "[ \t\n\r\f]+"), _ != '')`.
  * Tokens are the [[TokenScanner]]'s, each wrapping its slice of the
  * document's one token buffer.
  */
case class Tokenize(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    TextExprChecks.require(child.dataType == StringType, prettyName, "string", child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val out = new ArrayBuffer[Any](16)
    new TokenScanner(keepTokens = true) {
      protected def token(start: Int, len: Int, hash: Int): Unit =
        out += UTF8String.fromBytes(buf, start, len)
    }.scan(input.asInstanceOf[UTF8String])
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Space-joined word n-grams over an array<string>; empty result
  * below n tokens == `TextFunctions.wordNgrams`.
  */
case class WordNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    TextExprChecks.requireStringArray(child.dataType, prettyName)

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val words = new Array[UTF8String](m)
    var i = 0
    while (i < m) { words(i) = arr.getUTF8String(i); i += 1 }
    val out = new Array[Any](m - n + 1)
    i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](n)
      System.arraycopy(words, i, parts, 0, n)
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Rolling polynomial fingerprint over an array<string>:
  * h = (31*h + 7*numChars(w) + codePoint(w[0])) mod 1e9+7
  * == `TextFunctions.rollingFingerprint`.
  */
case class RollingFingerprintExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    TextExprChecks.requireStringArray(child.dataType, prettyName)

  private val P = 1000000007L

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    var h = 0L
    var i = 0
    while (i < m) {
      val w = arr.getUTF8String(i)
      // ascii() semantics: code point of the first character (0 if empty)
      val first =
        if (w.numBytes == 0) 0L
        else {
          val b = w.getByte(0) & 0xff
          if (b < 0x80) b.toLong else w.toString.codePointAt(0).toLong
        }
      h = (h * 31L + (7L * w.numChars() + first)) % P
      i += 1
    }
    java.lang.Long.valueOf(h)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Resolve a function's `n` argument from SQL: accepts int/long
  * literals (or any foldable integral expression) with a clear error
  * otherwise, instead of a raw ClassCastException at plan time.
  */
object ExpressionArgs {
  def literalInt(e: Expression, fn: String): Int =
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: the n argument must be a constant, got a non-literal expression")
    else e.eval() match {
      case i: java.lang.Integer => i.intValue
      case l: java.lang.Long    => l.intValue
      case s: java.lang.Short   => s.intValue
      case other => throw new IllegalArgumentException(
        s"$fn: the n argument must be an integer literal, got $other")
    }

  def literalDouble(e: Expression, fn: String): Double =
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: the argument must be a constant, got a non-literal expression")
    else e.eval() match {
      case d: java.lang.Double  => d.doubleValue
      case f: java.lang.Float   => f.doubleValue
      case i: java.lang.Integer => i.doubleValue
      case l: java.lang.Long    => l.doubleValue
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: the argument must be a numeric literal, got $other")
    }
}

/** Shared analysis-time type checks for the SQL-exposed expressions. */
private[expressions] object TextExprChecks {
  def require(ok: Boolean, fn: String, expected: String,
              got: org.apache.spark.sql.types.DataType): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$fn requires $expected, got ${got.sql}")

  def requireStringArray(dt: org.apache.spark.sql.types.DataType, fn: String): TypeCheckResult =
    dt match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$fn requires array<string>, got ${other.sql}")
    }
}
