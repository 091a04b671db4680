package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.functions.expressions.{MinHashSignature, RollingFingerprintExpr, SimHashSignature, TokenCounts, Tokenize, WinnowFingerprintsExpr, WordNgramsExpr}

/** Property-based checks of the native expressions via direct
  * Catalyst `eval` (no Spark jobs — thousands of cases per second).
  */
object ExpressionProperties extends Properties("graft.expressions") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(200)

  private val delimChars = Gen.oneOf(' ', '\t', '\n', '\r', '\f')
  private val wordChar = Gen.frequency(
    9 -> Gen.alphaChar, 2 -> Gen.numChar, 1 -> Gen.oneOf('.', ',', '!', '_'))
  private val rawString: Gen[String] = Gen.listOfN(
    40, Gen.frequency(4 -> wordChar, 1 -> delimChars)).map(_.mkString)
  private val wordList: Gen[List[String]] =
    Gen.listOf(Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)).map(_.take(20))

  private def tokenize(s: String): Seq[String] =
    Tokenize(Literal(UTF8String.fromString(s), StringType))
      .eval(null).asInstanceOf[ArrayData]
      .toObjectArray(StringType).toSeq.map(_.toString)

  // words whose lower case only `UTF8String.toLowerCase` gets right:
  // dotted capital I (one char, two when lowered), capital sigma (word-
  // final or not), sharp s, and a non-Latin script
  private val nonAsciiWord = Gen.oneOf(
    "İstanbul", "İ", "ΟΔΟΣ", "Σ", "ΣΑΣ", "straße", "STRASSE", "ÀÉÎ", "日本語")
  // longer than any earlier document, so the scan buffer must grow
  private val longWord = Gen.choose(65, 400)
    .flatMap(n => Gen.listOfN(n, Gen.alphaChar)).map(_.mkString)
  private val document: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    12 -> Gen.listOf(Gen.frequency(
      6 -> Gen.nonEmptyListOf(wordChar).map(_.mkString),
      2 -> nonAsciiWord,
      1 -> longWord,
      4 -> Gen.nonEmptyListOf(delimChars).map(_.mkString))).map(_.take(30).mkString))
  /** A partition: documents, `None` for a null one. */
  private val partition: Gen[List[Option[String]]] =
    Gen.listOf(Gen.frequency(1 -> Gen.const(None), 8 -> document.map(Some(_))))
      .map(_.take(12))

  /** Every row `TokenCounts` emits over a partition, flushes included. */
  private def tokenCountRows(docs: Seq[Option[String]], flushAt: Int): Seq[(String, Long)] = {
    val kernel = new TokenCounts(BoundReference(0, StringType, nullable = true), flushAt)
    val out = Seq.newBuilder[(String, Long)]
    def take(rows: IterableOnce[InternalRow]): Unit =
      rows.iterator.foreach(r => out += r.getUTF8String(0).toString -> r.getLong(1))
    docs.foreach(d => take(kernel.eval(InternalRow(d.map(UTF8String.fromString).orNull))))
    take(kernel.terminate())
    out.result()
  }

  /** `explode(graft_tokenize(text))` + `count(*) GROUP BY word`. */
  private def explodeCounts(docs: Seq[Option[String]]): Map[String, Long] =
    docs.flatten.flatMap(tokenize).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }

  private def strArrayLit(xs: Seq[String]) =
    Literal.create(xs, ArrayType(StringType))

  property("tokenize matches java.util.StringTokenizer semantics") =
    forAll(rawString) { s =>
      val model = {
        val st = new java.util.StringTokenizer(s.toLowerCase)
        val b = Seq.newBuilder[String]
        while (st.hasMoreTokens) b += st.nextToken()
        b.result()
      }
      tokenize(s) == model
    }

  property("tokenize of non-ASCII text splits UTF8String.toLowerCase") =
    forAll(document) { s =>
      val st = new java.util.StringTokenizer(
        UTF8String.fromString(s).toLowerCase.toString, " \t\n\r\f")
      val model = Seq.newBuilder[String]
      while (st.hasMoreTokens) model += st.nextToken()
      tokenize(s) == model.result()
    }

  property("token counts equal explode(tokenize) + count, one row per word") =
    forAll(partition) { docs =>
      val rows = tokenCountRows(docs, TokenCounts.FlushAt)
      rows.map(_._1).distinct.size == rows.size && rows.toMap == explodeCounts(docs)
    }

  property("token counts summed over flushes equal the model at any flush size") =
    forAll(partition, Gen.choose(1, 8)) { (docs, flushAt) =>
      val rows = tokenCountRows(docs, flushAt)
      rows.groupMapReduce(_._1)(_._2)(_ + _) == explodeCounts(docs)
    }

  property("token counts of edge documents") = {
    val docs = Seq(None, Some(""), Some(" \t\n\r\f"), Some("\f\fa  A\t\ta\r\n"),
      Some("İstanbul ISTANBUL istanbul"), Some("ΟΔΟΣ Σ σ"), Some("ß STRASSE Straße"),
      Some("x" * 5000 + " x"))
    val want = Map("a" -> 3L, "i̇stanbul" -> 1L, "istanbul" -> 2L, "οδος" -> 1L,
      "σ" -> 2L, "ß" -> 1L, "strasse" -> 1L, "straße" -> 1L, "x" * 5000 -> 1L, "x" -> 1L)
    (explodeCounts(docs) == want) :| "model" &&
      (tokenCountRows(docs, TokenCounts.FlushAt).toMap == want) :| "kernel" &&
      (tokenCountRows(docs, 2).groupMapReduce(_._1)(_._2)(_ + _) == want) :| "kernel, flushing"
  }

  property("tokenize distributes over whitespace concatenation") =
    forAll(rawString, rawString) { (a, b) =>
      tokenize(a + " " + b) == tokenize(a) ++ tokenize(b)
    }

  property("ngram count is len-n+1 (or 0 below n)") =
    forAll(wordList, Gen.choose(1, 6)) { (ws, n) =>
      val out = WordNgramsExpr(strArrayLit(ws), n)
        .eval(null).asInstanceOf[ArrayData].numElements()
      out == math.max(0, ws.length - n + 1)
    }

  property("rolling fingerprint equals the fold model") =
    forAll(wordList) { ws =>
      val got = RollingFingerprintExpr(strArrayLit(ws)).eval(null)
        .asInstanceOf[Long]
      val model = ws.foldLeft(0L) { (h, w) =>
        (h * 31L + (7L * w.length + (if (w.isEmpty) 0L else w.codePointAt(0).toLong))) % 1000000007L
      }
      got == model
    }

  private def sig(xs: Seq[String]): Seq[Long] =
    MinHashSignature(strArrayLit(xs), 16, 1000000007L)
      .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq

  property("minhash signature of a union is the elementwise min") =
    forAll(wordList, wordList) { (a, b) =>
      sig(a ++ b) == sig(a).zip(sig(b)).map { case (x, y) => math.min(x, y) }
    }

  property("minhash signature is order- and duplicate-invariant") =
    forAll(wordList) { ws =>
      sig(ws) == sig(scala.util.Random.shuffle(ws ++ ws))
    }

  private def simsig(xs: Seq[String], bits: Int): Long =
    SimHashSignature(strArrayLit(xs), bits).eval(null).asInstanceOf[Long]

  property("simhash equals the md5 bit-count model") =
    forAll(wordList, Gen.oneOf(20, 32)) { (ws, bits) =>
      val counts = new Array[Int](bits)
      ws.foreach { w =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(w.getBytes("UTF-8"))
        val hex = d.take(8).map(b => f"$b%02x").mkString.take(15)
        val h = java.lang.Long.parseLong(hex, 16) % 4294967291L
        (0 until bits).foreach { j =>
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        }
      }
      val model = (0 until bits).map(j => if (counts(j) > 0) 1L << j else 0L).sum
      simsig(ws, bits) == model
    }

  property("simhash is order-invariant and scales with duplication") =
    forAll(wordList) { ws =>
      simsig(ws, 32) == simsig(scala.util.Random.shuffle(ws), 32) &&
        simsig(ws ++ ws, 32) == simsig(ws, 32)
    }

  private def winnow(xs: Seq[String], w: Int): Seq[Long] =
    WinnowFingerprintsExpr(strArrayLit(xs), w)
      .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq

  /** The naive model: md5-prefix-60-bit hash per gram, min of every
    * length-`w` window, distinct in first-occurrence order.
    */
  private def winnowModel(xs: Seq[String], w: Int): Seq[Long] = {
    if (xs.length < w) return Seq.empty
    val hs = xs.map { g =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    hs.sliding(w).map(_.min).toSeq.distinct
  }

  property("winnow fingerprints equal the sliding-min model") =
    forAll(wordList, Gen.choose(1, 6)) { (ws, w) =>
      winnow(ws, w) == winnowModel(ws, w)
    }

  property("winnowing guarantee: a shared w-gram run shares a fingerprint") =
    forAll(wordList, wordList, wordList,
      Gen.listOfN(6, Gen.alphaLowerChar.map(_.toString))) { (a, b, c, run) =>
      // any two documents containing the same w consecutive grams
      // must share at least one fingerprint (w = 5 < run length 6)
      val d1 = winnow(a ++ run ++ b, 5).toSet
      val d2 = winnow(c ++ run, 5).toSet
      d1.intersect(d2).nonEmpty
    }
}
