package graft

import org.apache.spark.sql.SparkSession

/** SQL-surface demo: a session built with
  * `spark.sql.extensions=graft.GraftExtensions` answers engine
  * queries in pure SQL, graft functions included.
  *
  * Usage: SqlDemo [sfDir]            — run the built-in demo queries
  *        SqlDemo [sfDir] <sql...>   — run ad-hoc SQL statements and
  *                                     print each result (or error)
  */
object SqlDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Catalog.registerViews(spark, sfDir)

    if (args.length > 1) {
      args.drop(1).foreach { sql =>
        try spark.sql(sql).show(20, truncate = false)
        catch { case e: Exception =>
          println(s"SQL ERROR: ${e.getMessage.linesIterator.next()}")
        }
      }
      spark.stop()
      return
    }

    val vocab = spark.sql(
      """SELECT count(*) AS n FROM (
        |  SELECT word, sum(cnt) AS cnt FROM (
        |    SELECT graft_token_counts(text) FROM documents
        |  ) GROUP BY word)""".stripMargin).head().getLong(0)

    val topPair = spark.sql(
      """SELECT a.vec_id, b.vec_id, graft_cosine(a.embedding, b.embedding) AS c
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |ORDER BY c DESC, a.vec_id, b.vec_id LIMIT 1""".stripMargin).head()

    println(s"""{"vocab":$vocab,"top_pair":[${topPair.getLong(0)},${topPair.getLong(1)}],"top_cosine":${topPair.getDouble(2)}}""")
    spark.stop()
  }
}
