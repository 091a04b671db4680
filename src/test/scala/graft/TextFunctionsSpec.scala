package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._

class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tok(s: String): Seq[String] =
    Seq(s).toDF("text").select(tokens(col("text")).as("t"))
      .head.getSeq[String](0)

  test("tokens matches StringTokenizer delimiter semantics") {
    assert(tok("a b\tc\nd\re\ff") === Seq("a", "b", "c", "d", "e", "f"))
    assert(tok("  leading and   runs ") === Seq("leading", "and", "runs"))
    assert(tok("") === Seq.empty)
    assert(tok(" \t\n") === Seq.empty)
    assert(tok("MiXeD Case") === Seq("mixed", "case"))
  }

  test("wordNgrams produces n-1 fewer entries, empty below n") {
    val df = Seq("a b c d").toDF("text")
      .select(wordNgrams(tokens(col("text")), 2).as("g"))
    assert(df.head.getSeq[String](0) === Seq("a b", "b c", "c d"))
    val short = Seq("a b").toDF("text")
      .select(wordNgrams(tokens(col("text")), 5).as("g"))
    assert(short.head.getSeq[String](0) === Seq.empty)
  }

  test("native expressions equal the functions-API reference implementations") {
    import graft.functions.NativeText
    val edge = Seq("a b\tc\nd\re\ff", "  x  ", "", " \t\n", "MiXeD Case", "one")
    val fixture = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val df = (edge ++ fixture).toDF("text")
    val cmp = df.select(
      tokens(col("text")).as("ref_t"),
      NativeText.tokens(col("text")).as("nat_t"),
      wordNgrams(tokens(col("text")), 5).as("ref_g"),
      NativeText.wordNgrams(NativeText.tokens(col("text")), 5).as("nat_g"),
      rollingFingerprint(tokens(col("text"))).as("ref_f"),
      NativeText.rollingFingerprint(NativeText.tokens(col("text"))).as("nat_f"))
    cmp.collect().foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
      assert(r.getSeq[String](2) === r.getSeq[String](3))
      assert(r.getLong(4) === r.getLong(5))
    }
  }

  test("native winnow fingerprints equal the composed HOF formulation") {
    import graft.functions.NativeText
    import graft.operators.TextAnalysisOps.{WinnowK, WinnowW}
    // edge docs: below W grams (empty), exactly W, duplicate-heavy
    // (dedup order), plus the full fixture corpus
    val edge = Seq("one two three", "a b c d e f g h",
      "x x x x x x x x x x", "tie tie tie tie a tie tie tie tie")
    val fixture = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val grams = NativeText.wordNgrams(NativeText.tokens(col("text")), WinnowK)
    val composedHs = transform(grams, g =>
      conv(substring(md5(g), 1, 15), 16, 10).cast("long"))
    val cmp = (edge ++ fixture).toDF("text").select(
      NativeText.winnowFp(grams, WinnowW).as("nat"),
      when(size(composedHs) >= WinnowW, array_distinct(
        transform(sequence(lit(1), size(composedHs) - lit(WinnowW - 1)),
          i => array_min(slice(composedHs, i, lit(WinnowW))))))
        .otherwise(array().cast("array<long>")).as("ref"))
    cmp.collect().foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1),
        "native winnow must match the composed formulation bit-for-bit, in order")
    }
  }

  test("native simhash signature equals the HOF reference formulation") {
    import graft.functions.NativeText
    val fixture = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val df = (Seq("a b\tc", "one", "MiXeD Case words here") ++ fixture)
      .toDF("text")
    for (bits <- Seq(20, 32)) {
      // HOF reference: per-bit aggregate of +/-1 over wordHash bits
      val ws = tokens(col("text"))
      val hs = transform(ws, w => wordHash(w))
      val ref = (0 until bits).map { j =>
        val sumJ = aggregate(hs, lit(0L),
          (a, h) => a + (shiftright(h, j).bitwiseAND(lit(1L)) * 2L - 1L))
        when(sumJ > 0, lit(1L << j).cast("long")).otherwise(lit(0L))
      }.reduce(_ + _)
      val cmp = df.where(size(tokens(col("text"))) > 0).select(
        ref.as("ref_sig"),
        NativeText.simhashSig(NativeText.tokens(col("text")), bits).as("nat_sig"))
      cmp.collect().foreach { r =>
        assert(r.getLong(0) === r.getLong(1), s"bits=$bits")
      }
    }
  }

  test("rollingFingerprint is deterministic and order-sensitive") {
    def fp(s: String): Long =
      Seq(s).toDF("text").select(rollingFingerprint(tokens(col("text"))).as("h"))
        .head.getLong(0)
    assert(fp("a b c") === fp("a b c"))
    assert(fp("a b c") !== fp("c b a"))
    assert(fp("") === 0L)
  }

  test("token entropy hits the closed-form poles") {
    val df = Seq(
      (1L, "same same same same"),          // degenerate: H = 0
      (2L, "a b c d"),                      // uniform: H = ln 4
      (3L, "a a b b")                       // uniform over 2: H = ln 2
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysisOps.tokenEntropy(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out(0) === ((1L, 4L, 1L, 0.0)))
    // 0.0 must be POSITIVE zero (the -0.0 a negated zero-sum produces
    // would hash-mismatch the oracle)
    assert(java.lang.Double.doubleToRawLongBits(out(0)._4) === 0L)
    assert(math.abs(out(1)._4 - math.log(4)) < 5e-5)
    assert(math.abs(out(2)._4 - math.log(2)) < 5e-5)
  }

  test("multi-round BPE training: merge order and greedy non-overlap on a hand fixture") {
    import spark.implicits._
    val df = Seq(
      (1L, "aaab aaab aaab ab"),  // wf: aaab=3, ab=1
      (2L, "xy xy xy xy xy")      // wf: xy=5
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysisOps.bpeTrainMerges(df, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (a,a) counts TWICE per aaab (overlapping census) = 6,
    //          beating (x,y)=5 and (a,b)=4
    assert(out(0) === ((1L, "a", "a", 6L)))
    // the merge itself is greedy non-overlapping: aaab -> [aa, a, b],
    // NOT [aa, ab]; so round 2 sees (aa,a)=3, (a,b)=3+1=4, (x,y)=5
    assert(out(1) === ((2L, "x", "y", 5L)))
    assert(out(2) === ((3L, "a", "b", 4L)))
    // round 4: ab merged everywhere -> (aa, ab) from aaab = 3
    assert(out(3) === ((4L, "aa", "ab", 3L)))
  }

  test("multi-round BPE training: rounds and vocabulary growth on the fixture corpus") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val R = graft.operators.TextAnalysisOps.BpeTrainRounds
    val merges = graft.operators.TextAnalysisOps.bpeTrainMerges(docs).collect()
    assert(merges.length === R)
    assert(merges.map(_.getLong(0)).toSeq === (1L to R).toSeq)
    // each round mints exactly one new symbol: left || right
    val vocab = merges.map(r => r.getString(1) + r.getString(2))
    assert(vocab.distinct.length === R)
    // merge counts are non-increasing ONLY per surviving pair — but the
    // chosen max can never exceed the previous round's max
    val cnts = merges.map(_.getLong(3))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => b <= a },
      s"round maxima increased: ${cnts.toSeq}")
  }
}
