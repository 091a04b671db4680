package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.WordCountOps

class WordCountSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  lazy val docs = Tables.documents(spark, TestSpark.Sf0001).cache()

  // the session is shared across suites: a leaked cache substitutes
  // InMemoryRelation into every LATER plan over the same table and
  // silently changes what the plan-audit pins are measuring
  override def afterAll(): Unit = docs.unpersist()

  test("wordcount total equals token count") {
    val wc = WordCountOps.wordCount(docs)
    val totalFromCounts = wc.agg(sum("cnt")).head.getLong(0)
    val totalTokens = docs
      .select(size(TextFunctions.tokens(col("text"))).cast("long").as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(totalFromCounts === totalTokens)
    assert(totalTokens > 0)
  }

  test("wordcount schema: word STRING NOT NULL, cnt BIGINT NOT NULL") {
    import org.apache.spark.sql.types._
    val want = StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false)))
    assert(WordCountOps.wordCount(docs).schema === want)
    assert(WordCountOps.wordCountTopK(docs).schema === want)
  }

  test("wordcount of a local relation equals explode(tokenize) + count") {
    // a LocalTableScan input, null and empty documents, non-ASCII text:
    // the generator's rows come from terminate() on every input path
    import spark.implicits._
    val local = Seq(Some("İstanbul ISTANBUL a"), None, Some(""), Some("A\ta ΟΔΟΣ Σ"))
      .toDF("text")
    val want = local.select(explode(graft.functions.NativeText.tokens(col("text"))).as("word"))
      .groupBy("word").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = WordCountOps.wordCount(local).collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.toMap === want)
    assert(got.length === want.size)
  }

  test("observed metrics: BIGINT token and char totals, 0 on empty input") {
    import spark.implicits._
    def metrics(texts: Seq[Option[String]]): (Any, Any) = {
      val (wc, obs) = WordCountOps.wordCountObserved(texts.toDF("text"))
      wc.count()
      val row = obs.get
      (row("tokens_seen"), row("chars_seen"))
    }
    // 5 tokens; chars_seen is the total length of the words they count as
    assert(metrics(Seq(Some("İstanbul ISTANBUL a"), None, Some(""), Some("A\tΟΔΟΣ"))) ===
      (5L, WordCountOps.wordCount(Seq("İstanbul ISTANBUL a A ΟΔΟΣ").toDF("text"))
        .select(sum(length(col("word")) * col("cnt"))).head.getLong(0)))
    assert(metrics(Seq(None, Some(" "))) === (0L, 0L))
  }

  test("topk is the head of the fully sorted wordcount") {
    val full = WordCountOps.wordCount(docs)
      .orderBy(desc("cnt"), asc("word")).limit(20).collect().toSeq
    val topk = WordCountOps.wordCountTopK(docs).collect().toSeq
    assert(topk === full)
  }

  test("distinct words equal wordcount keys") {
    val nDistinct = WordCountOps.distinctWords(docs).count()
    val nKeys = WordCountOps.wordCount(docs).count()
    assert(nDistinct === nKeys)
  }

  test("per-source counts roll up to global counts") {
    val global = WordCountOps.wordCount(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rolled = WordCountOps.wordCountPerSource(docs)
      .groupBy("word").agg(sum("cnt").as("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled === global)
  }

  test("packets_baseline packets bounded by vocabulary size") {
    val vocab = WordCountOps.distinctWords(docs).count()
    val rows = WordCountOps.packetsBaseline(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) <= vocab))
  }
}
