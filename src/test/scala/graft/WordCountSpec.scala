package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
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

  /** The lines of each `part-*` file under `dir`, in part-number order. */
  private def partFiles(dir: String): Seq[Seq[String]] =
    new File(dir).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
      .map(f => Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq)

  private def wordAndCount(line: String): (String, Long) = {
    val tab = line.lastIndexOf('\t')
    line.substring(0, tab) -> line.substring(tab + 1).toLong
  }

  private def tmpDir(): String = Files.createTempDirectory("graft-tsv").toString

  test("tsv sink: one word-sorted part file per reducer, each word in one file") {
    // AQE would coalesce this small count into one reducer; without
    // coalescing each of the 4 shuffle partitions writes its own file
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    import s.implicits._
    val extra = Seq("say \"hello\" to a,b", "\"hello\" x,\"y\" \"",
      "İstanbul ΟΔΟΣ straße ß 東京 東京 ﬁn émigré Émigré zebra").toDF("text")
    val input = Tables.documents(s, TestSpark.Sf0001).select("text").union(extra)
    val wc = WordCountOps.wordCount(input)
    val dir = tmpDir()
    WordCountOps.writeTsv(wc, dir)
    val files = partFiles(dir).map(_.map(wordAndCount))
    assert(files.size > 1, "expected one file per reducer")
    files.foreach { f =>
      val words = f.map(p => UTF8String.fromString(p._1))
      words.zip(words.drop(1)).foreach { case (a, b) =>
        assert(a.compareTo(b) < 0, s"part file not sorted by word: $a before $b")
      }
    }
    // each file is one hash partition of the final aggregate (a global
    // sort would write word ranges instead)
    files.foreach { f =>
      val parts = f.map(_._1).toDS().select(pmod(hash(col("value")), lit(4))).distinct().count()
      assert(parts === 1, "a part file spans several hash partitions")
    }
    val back = files.flatten
    assert(back.map(_._1).distinct.size === back.size, "a word is in two files")
    val expect = wc.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(back.sorted === expect.sorted)
    Seq("\"hello\"" -> 2L, "x,\"y\"" -> 1L, "東京" -> 2L, "émigré" -> 2L)
      .foreach { case (w, n) => assert(back.toMap.get(w) === Some(n), w) }
  }

  test("tsv sink: inputs without a top-level global sort are written as they are") {
    def plainWrite(df: DataFrame, dir: String): Unit =
      df.select(concat_ws("\t", col("word"), col("cnt").cast("string")))
        .write.mode("overwrite").text(dir)
    // a limit over a sort stays one file in `cnt desc` order
    val topk = WordCountOps.wordCountTopK(docs)
    val topDir = tmpDir()
    WordCountOps.writeTsv(topk, topDir)
    val want = topk.collect().map(r => s"${r.getString(0)}\t${r.getLong(1)}").toSeq
    assert(want.size === 20)
    assert(partFiles(topDir) === Seq(want))
    // a frame whose top node is not a sort: same files as a plain write
    val unsorted = WordCountOps.wordCount(docs).repartition(3, col("word"))
    val (a, b) = (tmpDir(), tmpDir())
    WordCountOps.writeTsv(unsorted, a)
    plainWrite(unsorted, b)
    assert(partFiles(a).map(_.sorted) === partFiles(b).map(_.sorted))
    assert(partFiles(a).size === 3)
    // coalesce(1) over the counts: one file in global word order
    val oneDir = tmpDir()
    WordCountOps.writeTsv(WordCountOps.wordCount(docs).coalesce(1), oneDir)
    assert(partFiles(oneDir) ===
      Seq(WordCountOps.wordCount(docs).collect().map(r => s"${r.getString(0)}\t${r.getLong(1)}").toSeq))
  }

  test("documents: a missing or mistyped column fails the load and names it") {
    import spark.implicits._
    def docsDir(df: DataFrame): String = {
      val d = tmpDir()
      df.write.parquet(s"$d/documents.parquet")
      d
    }
    // the declared schema alone would read a missing `text` as nulls
    // (a zero word count) and fail on a string `doc_id` only if read
    val noText = docsDir(Seq((1L, "en", "s", 3L)).toDF("doc_id", "lang", "source", "n_chars"))
    val e1 = intercept[IllegalArgumentException](
      WordCountOps.wordCount(Tables.documents(spark, noText)).count())
    assert(e1.getMessage.contains("column `text` is missing"), e1.getMessage)
    val stringId = docsDir(Seq(("1", "a b", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val e2 = intercept[IllegalArgumentException](
      Tables.documents(spark, stringId).select("text").count())
    assert(e2.getMessage.contains("column `doc_id` is STRING, declared BIGINT"), e2.getMessage)
    // the same columns in a different file order read fine, by name
    val reordered = docsDir(Seq(("a b a", 1L, "s", "en", 5L))
      .toDF("text", "doc_id", "source", "lang", "n_chars"))
    val d = Tables.documents(spark, reordered)
    assert(d.schema.fieldNames.toSeq === Tables.DocumentsSchema.fieldNames.toSeq)
    assert(WordCountOps.wordCount(d).collect().map(r => r.getString(0) -> r.getLong(1)).toSeq ===
      Seq("a" -> 2L, "b" -> 1L))
  }
}
