package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WordCountOps
import graft.sources.TextSource

class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("pure-SQL wordcount equals the DataFrame operator") {
    Catalog.registerViews(spark, TestSpark.Sf0001)
    val sql = spark.sql(
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT explode(graft_tokenize(text)) AS word FROM documents
        |) GROUP BY word ORDER BY word""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val df = WordCountOps.wordCount(Tables.documents(spark, TestSpark.Sf0001))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(sql === df)
  }

  test("SQL token-count generator sums to the DataFrame wordcount") {
    Catalog.registerViews(spark, TestSpark.Sf0001)
    val sql = spark.sql(
      """SELECT word, sum(cnt) AS cnt FROM (
        |  SELECT graft_token_counts(text) FROM documents
        |) GROUP BY word ORDER BY word""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val df = WordCountOps.wordCount(Tables.documents(spark, TestSpark.Sf0001))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(sql === df)
  }

  test("graft functions are callable from SQL") {
    Catalog.registerViews(spark, TestSpark.Sf0001)
    val r = spark.sql(
      """SELECT graft_cosine(embedding, embedding) AS self,
        |       graft_rolling_fp(graft_tokenize('a b c')) AS fp,
        |       size(graft_word_ngrams(graft_tokenize('a b c d'), 2)) AS n2
        |FROM embeddings LIMIT 1""".stripMargin).head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getLong(1) > 0)
    assert(r.getInt(2) === 3)
  }

  test("custom aggregates are callable from SQL") {
    Catalog.registerViews(spark, TestSpark.Sf0001)
    graft.functions.SketchFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_hist_quantile(l_extendedprice, 0.0, 110000.0, 110, 0.5) AS p50,
        |       graft_kmv_est(CAST(conv(substring(md5(CAST(l_orderkey AS STRING)), 1, 15), 16, 10) AS DOUBLE), 64) AS est
        |FROM lineitem""".stripMargin).head
    assert(r.getDouble(0) > 0.0 && r.getDouble(0) < 110000.0)
    assert(r.getLong(1) > 0L)
  }

  test("raw text files run the reference pipeline end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft-text")
    java.nio.file.Files.writeString(dir.resolve("a.txt"), "the cat\tsat on the mat\nthe cat")
    java.nio.file.Files.writeString(dir.resolve("b.txt"), "a dog  and a cat\n")
    val docs = TextSource.readAsDocuments(spark, dir.toString)
    assert(docs.columns.toSeq === Seq("doc_id", "text", "source", "n_chars"))
    val wc = WordCountOps.wordCount(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wc === Map("the" -> 3L, "cat" -> 3L, "sat" -> 1L, "on" -> 1L,
      "mat" -> 1L, "a" -> 2L, "dog" -> 1L, "and" -> 1L))
    // provenance column carries the originating file name
    val sources = docs.select("source").distinct().collect().map(_.getString(0)).toSet
    assert(sources === Set("a.txt", "b.txt"))
  }
}
