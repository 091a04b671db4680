package graft.functions.expressions

import java.util.Locale

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
  * The scan goes a token at a time and reads eight bytes per load
  * (`Platform.getLong`), testing all eight at once with SWAR bit
  * tricks (one mask flags the delimiter bytes): a load at a token's
  * first byte finds the end of a token of up to 7 bytes, a second load
  * one of up to 15, and those loads are the token's key. A load never
  * reads past the string's last byte (column vectors may be off-heap):
  * the last, short load is assembled byte by byte and padded with
  * spaces. With `fold`, the token's bytes are also tested for one
  * >= 0x80. Until one turns up, A-Z are folded eight bytes at a time
  * (exactly what `UTF8String.toLowerCase` does to ASCII); from the
  * token holding the first such byte on, the rest of the document is
  * scanned after `String.toLowerCase(Locale.ROOT)`, which is what
  * `UTF8String.toLowerCase` does to non-ASCII text under a root-like
  * default locale; pinning the locale keeps the tokens the same under
  * any default (a Turkish one would lower `I` to a dotless `ı`, but
  * only after the first non-ASCII token). The text before that token
  * ends in a delimiter, so lowering the rest alone changes nothing: no
  * case rule looks across whitespace. Delimiters are all ASCII, and
  * UTF-8 continuation bytes are >= 0x80, so a byte-level scan never
  * splits a multibyte character. Without `fold` the text is split as
  * it is, case kept: the reference's raw `StringTokenizer` tokens.
  *
  * A subclass receives each token as its length, its first sixteen
  * bytes as two little-endian longs `w0` and `w1` (zero past the
  * token's end) and a 64-bit hash. The bytes of a token longer than 16
  * are in `buf(0 until len)`, valid only during the `token` call. The
  * hash takes the token in 16-byte blocks, `h = mix(a ^ s1, b ^ h)`
  * from `h = s0 ^ len`, where `mix` is the 128-bit product's two
  * halves XORed and `s0`, `s1` come from `seed`: without the seed,
  * nobody can build tokens that share a hash except by chance.
  *
  * `token` returns false to stop the scan before that token; `resume`
  * then starts again from the token's first byte.
  */
private[graft] abstract class TokenScanner(fold: Boolean, seed: Long) {
  import TokenScanner._

  protected var buf: Array[Byte] = Array.emptyByteArray
  private val s0 = seed
  private val s1 = mix(seed ^ 0x9e3779b97f4a7c15L, 0xc2b2ae3d27d4eb4fL)

  // the document being scanned, from byte `pos` on
  private var base: AnyRef = _
  private var off = 0L
  private var n = 0
  private var pos = 0
  // A-Z still to fold: the document is ASCII so far
  private var folding = false

  protected def token(len: Int, w0: Long, w1: Long, hash: Long): Boolean

  /** Scans `text` from its start; false if a `token` call stopped it. */
  final def scan(text: UTF8String): Boolean = {
    point(text)
    folding = fold
    run()
  }

  /** Goes on with a stopped scan; false if it stopped again. */
  final def resume(): Boolean = run()

  private def point(text: UTF8String): Unit = {
    base = text.getBaseObject
    off = text.getBaseOffset
    n = text.numBytes
    pos = 0
  }

  private def run(): Boolean = {
    val base = this.base
    val off = this.off
    val n = this.n
    var i = pos
    while (i < n) {
      val x = load(base, off, i, n)
      val d = delimiters(x)
      if ((d & 0x80L) != 0L) {
        // byte i is a delimiter: on to the first byte that is not
        val rest = ~d & Hi
        i += (if (rest == 0L) 8 else java.lang.Long.numberOfTrailingZeros(rest) >>> 3)
      } else {
        // a token starts at i; most end within the first or second load
        var len = 0
        var w0 = x
        var w1 = 0L
        if (d != 0L) {
          len = java.lang.Long.numberOfTrailingZeros(d) >>> 3
          w0 = x & bytes(len)
        } else {
          val y = load(base, off, i + 8, n)
          val e = delimiters(y)
          if (e != 0L) {
            len = 8 + (java.lang.Long.numberOfTrailingZeros(e) >>> 3)
            w1 = y & bytes(len - 8)
          } else {
            w1 = y
            len = longLength(i + 16) - i
          }
        }
        if (folding && (if (len <= 16) ((w0 | w1) & Hi) != 0L else hasHigh(i, len))) {
          // the tokens before this one are final; lower the rest
          point(UTF8String.fromString(
            UTF8String.fromAddress(base, off + i, n - i).toString.toLowerCase(Locale.ROOT)))
          folding = false
          return run()
        }
        val counted =
          if (len > 16) emitLong(i, len)
          else {
            if (folding) { w0 = foldAscii(w0); w1 = foldAscii(w1) }
            token(len, w0, w1, mix(w0 ^ s1, w1 ^ s0 ^ len))
          }
        if (!counted) { pos = i; return false }
        i += len + 1
      }
    }
    pos = n
    true
  }

  /** The end of the token that has no delimiter before byte `p`. */
  private def longLength(p: Int): Int = {
    var e = p
    var d = delimiters(load(base, off, e, n))
    while (d == 0L) {
      e += 8
      d = delimiters(load(base, off, e, n))
    }
    e + (java.lang.Long.numberOfTrailingZeros(d) >>> 3)
  }

  private def hasHigh(start: Int, len: Int): Boolean = {
    var k = 0
    while (k < len && (load(base, off, start + k, n) & Hi & bytes(math.min(8, len - k))) == 0L) k += 8
    k < len
  }

  /** Bytes `p until p + 8` of the document, folded, and only the first
    * `rem` of them when `rem` < 8.
    */
  @inline private def word(p: Int, rem: Int): Long = {
    val x = load(base, off, p, n) & bytes(math.min(8, rem))
    if (folding) foldAscii(x) else x
  }

  /** A token longer than 16 bytes: lowered into `buf` and hashed block by block. */
  private def emitLong(start: Int, len: Int): Boolean = {
    if (buf.length < len + 16) buf = new Array[Byte](math.max(len + 16, buf.length * 2))
    var h = s0 ^ len
    var k = 0
    while (k < len) {
      val a = word(start + k, len - k)
      val b = if (k + 8 < len) word(start + k + 8, len - k - 8) else 0L
      store(buf, k, a)
      store(buf, k + 8, b)
      h = mix(a ^ s1, b ^ h)
      k += 16
    }
    token(len, word(start, 8), 0L, h)
  }

  /** Writes the token just passed to `token` to `dst(at until at +
    * len)`; a short one also overwrites the 16 - len bytes after it.
    */
  protected final def copyToken(len: Int, w0: Long, w1: Long, dst: Array[Byte], at: Int): Unit =
    if (len <= 16) { store(dst, at, w0); store(dst, at + 8, w1) }
    else System.arraycopy(buf, 0, dst, at, len)
}

private[graft] object TokenScanner {
  private val Hi = 0x8080808080808080L
  private val Low7 = 0x7f7f7f7f7f7f7f7fL
  private val Spaces = 0x2020202020202020L
  private val BigEndian = java.nio.ByteOrder.nativeOrder == java.nio.ByteOrder.BIG_ENDIAN

  /** Eight bytes from byte `i` on, the first in the low byte. Past
    * byte `n` the long holds spaces, so a load never reads past the
    * string's end.
    */
  @inline def load(base: AnyRef, off: Long, i: Int, n: Int): Long =
    if (i + 8 <= n) {
      val x = Platform.getLong(base, off + i)
      if (BigEndian) java.lang.Long.reverseBytes(x) else x
    } else {
      var x = Spaces
      var k = n - 1
      while (k >= i) { x = (x << 8) | (Platform.getByte(base, off + k) & 0xffL); k -= 1 }
      x
    }

  /** Stores `x` as `load` reads it: the low byte at `at`. */
  @inline def store(dst: Array[Byte], at: Int, x: Long): Unit =
    Platform.putLong(dst, Platform.BYTE_ARRAY_OFFSET + at,
      if (BigEndian) java.lang.Long.reverseBytes(x) else x)

  /** The low `k` bytes, 0 <= k <= 8. */
  @inline def bytes(k: Int): Long = if (k >= 8) -1L else (1L << (k << 3)) - 1

  /** 0x80 on each byte equal to `c`'s, nothing else. */
  @inline private def equalTo(x: Long, c: Long): Long = {
    val y = x ^ c
    ~(((y & Low7) + Low7) | y) & Hi
  }

  /** 0x80 on each delimiter byte (' ', \t, \n, \f, \r). */
  @inline def delimiters(x: Long): Long = {
    val y = x & Low7
    // bytes <= 0x20: every delimiter and the other control bytes
    val low = ~((y + 0x5f5f5f5f5f5f5f5fL) | x) & Hi
    if (low == 0L) 0L
    else {
      val sp = equalTo(x, Spaces)
      if (low == sp) sp
      else {
        // 0x09-0x0d but 0x0b
        val ctl = (y + 0x7777777777777777L) & ~(y + 0x7272727272727272L) & low
        sp | (ctl & ~equalTo(x, 0x0b0b0b0b0b0b0b0bL))
      }
    }
  }

  /** A-Z -> a-z in each byte below 0x80; no carry crosses a byte. */
  @inline def foldAscii(x: Long): Long = {
    val y = x & Low7
    val upper = (y + 0x3f3f3f3f3f3f3f3fL) & ~(y + 0x2525252525252525L) & ~x & Hi
    x | (upper >>> 2)
  }

  @inline def mix(a: Long, b: Long): Long = a * b ^ Math.multiplyHigh(a, b)
}

/** lower + split on StringTokenizer delimiters (" \t\n\r\f") + drop
  * empties == `filter(split(lower(text), "[ \t\n\r\f]+"), _ != '')`.
  * Tokens are the [[TokenScanner]]'s, laid out one after another in
  * the document's token buffer and each wrapping its slice.
  */
case class Tokenize(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    TextExprChecks.require(child.dataType == StringType, prettyName, "string", child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String]
    val out = new ArrayBuffer[Any](16)
    new TokenScanner(fold = true, seed = 0L) {
      private var bytes = new Array[Byte](text.numBytes + 16)
      private var used = 0
      protected def token(len: Int, w0: Long, w1: Long, hash: Long): Boolean = {
        // a lowered token may outgrow the text; earlier tokens keep the old buffer
        if (used + len + 16 > bytes.length) {
          bytes = new Array[Byte](math.max(2 * bytes.length, len + 16))
          used = 0
        }
        copyToken(len, w0, w1, bytes, used)
        out += UTF8String.fromBytes(bytes, used, len)
        used += len
        true
      }
    }.scan(text)
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
