package graft.functions.expressions

import java.util.Arrays

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused tokenize-and-count: the reference's map-side combiner (one
  * hash table per map task, filled straight from the token stream) as
  * a generator. Each document is scanned once by the [[TokenScanner]]
  * and every token is counted in a [[TokenTally]] — no string, array
  * or row per token. `eval` returns nothing; `terminate` emits one
  * `(word, cnt)` row per distinct word of the partition.
  *
  * The tally holds at most `flushAt` distinct words (and about
  * `flushAt * 32` bytes of them): a word that does not fit flushes the
  * rows so far out of the next `eval` and starts an empty table. The
  * caller sums `cnt` per word, so flushing never changes the answer.
  * Memory is therefore fixed per task, except that a single document's
  * flushes wait until its scan ends.
  *
  * `flushAt` is [[TokenCounts.FlushAt]] everywhere but in tests.
  */
case class TokenCounts private[graft] (child: Expression, flushAt: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = TokenCounts.Schema

  override def prettyName: String = "graft_token_counts"

  override def stateful: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    TextExprChecks.require(child.dataType == StringType, prettyName, "string", child.dataType)

  @transient private var tally: TokenTally = _

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val text = child.eval(input)
    if (text == null) return Nil
    if (tally == null) tally = new TokenTally(flushAt)
    tally.scan(text.asInstanceOf[UTF8String])
    tally.takeFlushed()
  }

  override def terminate(): IterableOnce[InternalRow] = {
    val t = tally
    tally = null
    if (t == null) Nil else t.rows(copy = false)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenCounts {

  /** Distinct words a task counts before it flushes: 2^17, about
    * 5 MB of table and at most 4 MB of word bytes.
    */
  val FlushAt: Int = 1 << 17

  val Schema: StructType = StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  def apply(child: Expression): TokenCounts = new TokenCounts(child, FlushAt)
}

/** Open-addressing (linear probing) word -> count table. A slot holds
  * `hash << 32 | entry + 1` (0 = empty); entry `e`'s bytes are
  * `arena(starts(e) until starts(e) + lens(e))`. The table starts small
  * and doubles while it is at most half full, up to twice `flushAt`.
  */
private final class TokenTally(flushAt: Int) extends TokenScanner(keepTokens = false) {
  private val maxSlots = Integer.highestOneBit(math.max(1, 2 * flushAt - 1)) << 1
  private val arenaCap = flushAt.toLong * 32

  private var slots = new Array[Long](math.min(1024, maxSlots))
  private var hashes = new Array[Int](16)
  private var starts = new Array[Int](16)
  private var lens = new Array[Int](16)
  private var counts = new Array[Long](16)
  private var arena = new Array[Byte](4096)
  private var used = 0
  private var size = 0
  private var flushed: ArrayBuffer[InternalRow] = null

  protected def token(start: Int, len: Int, hash: Int): Unit = {
    var s = hash & (slots.length - 1)
    var v = slots(s)
    while (v != 0L) {
      if ((v >>> 32).toInt == hash) {
        val e = v.toInt - 1
        val at = starts(e)
        if (lens(e) == len && Arrays.equals(arena, at, at + len, buf, start, start + len)) {
          counts(e) += 1
          return
        }
      }
      s = (s + 1) & (slots.length - 1)
      v = slots(s)
    }
    if (size == flushAt || (size > 0 && used + len > arenaCap)) {
      flush()
      s = hash & (slots.length - 1)
    }
    insert(s, start, len, hash)
  }

  private def insert(slot: Int, start: Int, len: Int, hash: Int): Unit = {
    if (used + len > arena.length)
      arena = Arrays.copyOf(arena, math.max(arena.length * 2, used + len))
    System.arraycopy(buf, start, arena, used, len)
    if (size == starts.length) {
      val n = math.min(size * 2, flushAt)
      hashes = Arrays.copyOf(hashes, n)
      starts = Arrays.copyOf(starts, n)
      lens = Arrays.copyOf(lens, n)
      counts = Arrays.copyOf(counts, n)
    }
    hashes(size) = hash
    starts(size) = used
    lens(size) = len
    counts(size) = 1L
    used += len
    size += 1
    slots(slot) = (hash.toLong << 32) | size
    if (size * 2 > slots.length && slots.length < maxSlots) rehash(slots.length * 2)
  }

  private def rehash(n: Int): Unit = {
    slots = new Array[Long](n)
    var e = 0
    while (e < size) {
      var s = hashes(e) & (n - 1)
      while (slots(s) != 0L) s = (s + 1) & (n - 1)
      slots(s) = (hashes(e).toLong << 32) | (e + 1)
      e += 1
    }
  }

  private def flush(): Unit = {
    if (flushed == null) flushed = new ArrayBuffer[InternalRow](size)
    flushed ++= rows(copy = true)
    Arrays.fill(slots, 0L)
    used = 0
    size = 0
  }

  /** Rows flushed by the last scan, if any. */
  def takeFlushed(): IterableOnce[InternalRow] =
    if (flushed == null) Nil
    else { val out = flushed; flushed = null; out }

  /** One `(word, cnt)` row per entry; without `copy` the words wrap the
    * arena, so the tally must not count again.
    */
  def rows(copy: Boolean): Iterator[InternalRow] =
    Iterator.range(0, size).map { e =>
      val word =
        if (copy) UTF8String.fromBytes(Arrays.copyOfRange(arena, starts(e), starts(e) + lens(e)))
        else UTF8String.fromBytes(arena, starts(e), lens(e))
      new GenericInternalRow(Array[Any](word, counts(e)))
    }
}
