package graft.functions.expressions

import java.util.Arrays

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused tokenize-and-count: the reference's map-side combiner (one
  * hash table per map task, filled straight from the token stream) as
  * a generator. Each document is scanned once by the [[TokenScanner]]
  * and every token is counted in a [[TokenTally]] — no string, array
  * or row per token. The caller sums `cnt` per word (and per its other
  * keys). There are two emission points:
  *  - per task (`graft_token_counts`, and every count grouped by word
  *    alone): `eval` returns only rows a flush pushed out, and
  *    `terminate` emits one `(word, cnt)` row per distinct word left
  *    in the partition's tally. Generate joins those rows to the
  *    partition's last input row, so no other input column can ride
  *    along;
  *  - `perDocument` (counts grouped by a document's key as well): `eval`
  *    returns the document's own `(word, cnt)` rows, flushed rows
  *    included, and leaves the tally empty; `terminate` returns
  *    nothing. Generate carries the row's other columns (`doc_id`,
  *    `source`, ...) beside each row. Emptying the tally zeroes only
  *    the slots the document filled, so a small document costs
  *    O(its words) however large the table grew.
  *
  * The tally holds at most `flushAt` distinct words (and about
  * `flushAt * 32` bytes of words longer than 16 bytes): a word that
  * does not fit stops the scan, and `eval`'s iterator hands out the
  * table's rows (one reused row, its word wrapping the table or the
  * arena), empties the table once they are read and resumes the scan.
  * Generate reads every row of `eval` before it advances the input
  * row, so nothing is copied, and memory is fixed per task whatever
  * the documents hold: even one huge document holds one flush segment
  * of rows at a time. Since `cnt` is summed, flushing never changes
  * the answer.
  *
  * Who sums the rows: per task, the kernel is the partial aggregate. A
  * task emits at most one row per (flush segment, word), and
  * `graft.operators.KernelCombiner` sends those rows straight to
  * Spark's final aggregate, which also adds up a word repeated across a
  * task's segments. That plan assumes few flushes per task: with k
  * flushes a word seen in every segment goes to the shuffle k + 1
  * times. Per document, Spark's partial aggregate stays: it merges a
  * task's per-document rows into one per (key, word).
  *
  * Without `fold` tokens keep their case (see [[TokenScanner]]).
  * `flushAt` is [[TokenCounts.FlushAt]] everywhere but in tests.
  */
case class TokenCounts private[graft] (child: Expression, flushAt: Int,
    perDocument: Boolean = false, fold: Boolean = true)
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
    if (tally == null) tally = new TokenTally(flushAt, fold)
    tally.count(text.asInstanceOf[UTF8String], perDocument)
  }

  override def terminate(): IterableOnce[InternalRow] = {
    val t = tally
    tally = null
    if (t == null) Nil else t.rows()
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenCounts {

  /** Distinct words a task counts before it flushes: 2^17, at most
    * 8 MB of table and 4 MB of words longer than 16 bytes.
    */
  val FlushAt: Int = 1 << 17

  val Schema: StructType = StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  def apply(child: Expression): TokenCounts = new TokenCounts(child, FlushAt)
}

/** Open-addressing (linear probing) word -> count table. Slot `s` is
  * four longs, `table(4s until 4s + 4)`:
  *  - the hash's high 32 bits over the word's length (0 = empty);
  *  - the word's first eight bytes;
  *  - for a word of up to 16 bytes, its next eight bytes, so the word
  *    is its own key and a hit reads one slot and nothing else; for a
  *    longer word, the offset of its bytes in `arena`, which a hit
  *    then compares;
  *  - the count.
  * The slot index is the hash's high bits too. `order(e)` is the slot
  * of the e-th word inserted, so rows come out in insertion order: the
  * hash seed, drawn when the tally is created, changes no row and no
  * order. The table starts small and doubles while it is at most half
  * full, up to twice `flushAt` slots.
  *
  * The worst case is bounded by the seed: the hash is a seeded 64-bit
  * mix of the whole word, so input written without the seed makes
  * lookups walk long runs of slots only by chance. A property test
  * holds 2^16 words that share one 31-polynomial hash to at most twice
  * the probes per token of random words.
  */
private[graft] final class TokenTally(flushAt: Int, fold: Boolean = true)
    extends TokenScanner(fold, java.util.concurrent.ThreadLocalRandom.current().nextLong()) {
  private val maxSlots = Integer.highestOneBit(math.max(1, 2 * flushAt - 1)) << 1
  private val arenaCap = flushAt.toLong * 32

  private var table = new Array[Long](4 * math.min(1024, maxSlots))
  private var mask = table.length / 4 - 1
  private var order = new Array[Int](16)
  private var arena = new Array[Byte](4096)
  private var used = 0
  private var size = 0
  /** The table's rows are being handed out; the scan waits for them. */
  private var emitting = false
  private val row = new SpecificInternalRow(TokenCounts.Schema.map(_.dataType))
  private val shortWord = new Array[Byte](16)
  /** Slots visited by [[clear]], over the tally's life. */
  private[graft] var cleared = 0L
  /** Slots visited by lookups, over the tally's life. */
  private[graft] var probes = 0L
  /** Tokens counted, over the tally's life. */
  private[graft] var tokens = 0L

  protected def token(len: Int, w0: Long, w1: Long, hash: Long): Boolean = {
    val tag = (hash & 0xffffffff00000000L) | len
    val t = table
    var s = (hash >>> 32).toInt & mask
    var p = 1L
    var b = s << 2
    var m = t(b)
    while (m != 0L) {
      if (m == tag && t(b + 1) == w0 &&
          (if (len <= 16) t(b + 2) == w1
           else { val at = t(b + 2).toInt; Arrays.equals(arena, at, at + len, buf, 0, len) })) {
        t(b + 3) += 1
        probes += p
        tokens += 1
        return true
      }
      s = (s + 1) & mask
      b = s << 2
      m = t(b)
      p += 1
    }
    probes += p
    insert(s, tag, len, w0, w1)
  }

  /** Puts a new word in empty slot `s`, unless the table is full. */
  private def insert(s: Int, tag: Long, len: Int, w0: Long, w1: Long): Boolean = {
    if (size == flushAt || (len > 16 && size > 0 && used + len > arenaCap)) return false
    tokens += 1
    val b = s << 2
    table(b) = tag
    table(b + 1) = w0
    table(b + 2) = if (len <= 16) w1 else append(len)
    table(b + 3) = 1L
    if (size == order.length) order = Arrays.copyOf(order, math.min(size * 2, flushAt))
    order(size) = s
    size += 1
    if (size * 2 > mask + 1 && mask + 1 < maxSlots) rehash(2 * (mask + 1))
    true
  }

  /** Copies the long word in `buf` to the arena; returns its offset. */
  private def append(len: Int): Long = {
    if (used + len > arena.length)
      arena = Arrays.copyOf(arena, math.max(arena.length * 2, used + len))
    System.arraycopy(buf, 0, arena, used, len)
    used += len
    used - len
  }

  private def rehash(slots: Int): Unit = {
    val old = table
    table = new Array[Long](4 * slots)
    mask = slots - 1
    var e = 0
    while (e < size) {
      val from = order(e) << 2
      var s = (old(from) >>> 32).toInt & mask
      while (table(s << 2) != 0L) s = (s + 1) & mask
      System.arraycopy(old, from, table, s << 2, 4)
      order(e) = s
      e += 1
    }
  }

  /** Empties the table by zeroing each word's own slot. */
  private def clear(): Unit = {
    var e = 0
    while (e < size) {
      table(order(e) << 2) = 0L
      e += 1
    }
    cleared += size
    used = 0
    size = 0
  }

  /** Counts `text`. Per task, the result holds the rows of the flushes
    * the document caused; per document, every row of the document,
    * leaving the tally empty. The scan goes on as the rows are read,
    * and the tally must not count again before all are read.
    */
  def count(text: UTF8String, perDocument: Boolean): Iterator[InternalRow] = {
    if (emitting) throw new IllegalStateException(
      "graft_token_counts: a document was counted before the last one's rows were all read")
    val done = scan(text)
    if (done && !perDocument) Iterator.empty
    else new Iterator[InternalRow] {
      private var scanned = done
      private var e = 0
      emitting = true

      def hasNext: Boolean = {
        while (!(emitting && e < TokenTally.this.size)) {
          if (emitting) { clear(); emitting = false; e = 0 }
          if (scanned) return false
          scanned = resume()
          emitting = !scanned || perDocument
        }
        true
      }

      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        e += 1
        rowOf(e - 1)
      }
    }
  }

  /** One `(word, cnt)` row per word in the table, in insertion order:
    * one reused row, refilled by each `next()`, whose word wraps the
    * tally, so the tally must not count again.
    */
  def rows(): Iterator[InternalRow] = Iterator.range(0, size).map(rowOf)

  private def rowOf(e: Int): InternalRow = {
    val b = order(e) << 2
    val len = table(b).toInt
    val w =
      if (len <= 16) {
        TokenScanner.store(shortWord, 0, table(b + 1))
        TokenScanner.store(shortWord, 8, table(b + 2))
        UTF8String.fromBytes(shortWord, 0, len)
      } else UTF8String.fromBytes(arena, table(b + 2).toInt, len)
    row.update(0, w)
    row.setLong(1, table(b + 3))
    row
  }
}
