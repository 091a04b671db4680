package graft.operators

import org.apache.spark.sql.{classic, Column, DataFrame, Encoders, GraftColumn, Row}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.expressions.TokenCounts

/** The reference's entire query surface — word count and its direct
  * derivatives (reference `src/wordcount/WordCount.java:44-63,226-241`)
  * — re-expressed as declarative DataFrame plans.
  *
  * Physical shape of `wordCount` (see `.explain("formatted")`):
  * {{{
  * Sort [word]                     <- the reference's sorted reducer output
  *   Exchange rangepartitioning
  *     HashAggregate(final, sum)   <- reference O10 IntSumReducer
  *       Exchange hashpartitioning <- reference O8 HashPartitioner shuffle
  *         HashAggregate(partial)  <- merges a task's flushed partials
  *           Generate graft_token_counts(text)  <- reference O2 tokenizer + O5 combiner
  *             FileScan parquet [text]  (column-pruned: only `text` is read)
  * }}}
  * Through [[writeTsv]] the top two nodes become one per-partition sort,
  * so the write is the map stage plus one reducer stage:
  * {{{
  * Sort [word], false              <- each reducer's key-sorted part-r-* file
  *   HashAggregate(final, sum)
  *     Exchange hashpartitioning   <- the one shuffle
  *       ...
  * }}}
  * The generator is the reference's combiner: one hash table per map
  * task, filled from one byte-level pass over each document, emitting
  * one `(word, cnt)` row per distinct word of the task — no row, array
  * or string per token (see [[graft.functions.expressions.TokenCounts]]).
  * At cluster scale the shuffle carries one row per (task, word), not
  * one per token. Every other count runs the same generator through
  * [[summedCounts]] (or, where it aggregates the rows its own way,
  * [[tokenCounts]]): grouped by word alone it is the same per-task
  * plan; grouped by a document's key as well (source, lang, doc_id) it
  * emits per document, so the key rides along and the shuffle carries
  * one row per (key, word).
  */
object WordCountOps {

  /** The kernel's `(keys…, word, cnt)` rows over `text`, to be summed
    * per (keys…, word): per-task partials without `keys`, else each
    * document's own counts beside its `keys`. Without `fold` words keep
    * their case.
    */
  private[graft] def tokenCounts(docs: DataFrame, keys: Seq[Column] = Nil,
      fold: Boolean = true): DataFrame =
    docs.select(keys :+ GraftColumn(TokenCounts(GraftColumn.expr(col("text")),
      TokenCounts.FlushAt, perDocument = keys.nonEmpty, fold)): _*)

  /** `(keys…, word, cnt)`: the [[tokenCounts]] rows summed per
    * (keys…, word), unordered. `coalesce` keeps `cnt` NOT NULL, as
    * `count` had it.
    */
  private[graft] def summedCounts(docs: DataFrame, keys: Seq[Column] = Nil,
      fold: Boolean = true): DataFrame = {
    val counts = tokenCounts(docs, keys, fold)
    counts.groupBy(counts.columns.toSeq.init.map(counts(_)): _*)
      .agg(coalesce(sum("cnt"), lit(0L)).as("cnt"))
  }

  /** (word, cnt) — `SELECT word, count(*) GROUP BY word`. */
  def wordCount(docs: DataFrame): DataFrame =
    summedCounts(docs).orderBy("word")

  /** The wordcount with named plan metrics via `Dataset.observe` —
    * the modern form of the reference's O14 counters
    * (`WordCountDriver.java:17-20`): `tokens_seen` and `chars_seen`
    * are collected by the plan itself during the one pass (no second
    * job, no accumulator re-count on task retry — observed metrics
    * are exactly-once per completed query). Both are sums over the
    * word counts, `chars_seen` weighted by word length; BIGINT, and 0
    * on empty input.
    *
    * They are observed on the sorted counts, one row per word. Lower
    * down they go wrong: under the sort's exchange the range-sampling
    * job runs the observation a second time, and under the aggregate's
    * exchange AQE drops an empty stage's plan, so the observation
    * reports nothing on empty input. Returns the observed wordcount and
    * the [[org.apache.spark.sql.Observation]] handle to read after an
    * action.
    */
  def wordCountObserved(docs: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("graft_wordcount")
    (wordCount(docs).observe(obs, coalesce(sum("cnt"), lit(0L)).as("tokens_seen"),
      coalesce(sum(length(col("word")).cast("long") * col("cnt")), lit(0L)).as("chars_seen")),
      obs)
  }

  /** Driver-surface form of [[wordCountObserved]]: runs the observed
    * wordcount to completion and returns the exactly-once plan
    * metrics as a one-row DataFrame — oracle-checkable because both
    * totals are plain aggregates over the same tokenization
    * (`tokens_seen` = token count, `chars_seen` = total token
    * length). The single action materializes the counts; the returned
    * row is O(1) driver state, same size class as the coded-shuffle
    * counter summary.
    */
  def wordCountObservedMetrics(docs: DataFrame): DataFrame = {
    val (wc, obs) = wordCountObserved(docs)
    wc.count() // one action: fires the plan, populates the observation
    val row = obs.get
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((row("tokens_seen").asInstanceOf[Long],
      row("chars_seen").asInstanceOf[Long]))
      .toDF("tokens_seen", "chars_seen")
  }

  /** Counts grouped by provenance — the analog of the reference's
    * split-location tagging (O3, `WordCount.java:48-59`): the `source`
    * column plays the role of the input-split host list.
    */
  def wordCountPerSource(docs: DataFrame): DataFrame =
    summedCounts(docs, Seq(col("source"))).orderBy("source", "word")

  /** Top-k words. TakeOrderedAndProject: each partition keeps a k-sized
    * heap, the driver merges — no global sort at any scale.
    */
  def wordCountTopK(docs: DataFrame, k: Int = 20): DataFrame =
    summedCounts(docs)
      .orderBy(desc("cnt"), asc("word"))
      .limit(k)

  /** Case-PRESERVING word count — the reference's raw
    * `StringTokenizer` semantics (`WordCount.java:45-47`: split on
    * `" \t\n\r\f"`, no normalization). The default [[wordCount]]
    * lowercases as a deliberate normalization choice (most text
    * pipelines want case-folded counts); this variant is the exact
    * reference token identity, driver-gated with its own oracle.
    */
  def wordCountCased(docs: DataFrame): DataFrame =
    summedCounts(docs, fold = false).orderBy("word")

  /** Distinct vocabulary: the words of the summed counts. */
  def distinctWords(docs: DataFrame): DataFrame =
    summedCounts(docs).select("word").orderBy("word")

  /** Composite-key aggregation — the reference's `GroupedWord`
    * (locations[], word) key semantics (`GroupedWord.java:12-35`),
    * with (lang, word) as the composite grouping key.
    */
  def groupedKeyAgg(docs: DataFrame): DataFrame =
    tokenCounts(docs, Seq(col("lang"), col("doc_id")))
      .groupBy("lang", "word")
      // a document flushed mid-scan gives two rows: count its id once
      .agg(coalesce(sum("cnt"), lit(0L)).as("cnt"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("lang", "word")

  /** Uncoded shuffle-packet accounting — the reference's PACKETS_SENT
    * counter semantics (O14, `WordCountDriver.java:17-20`): one packet
    * per distinct (map-locality, word) partial aggregate. Two-level
    * aggregation; the first level is exactly the partial-aggregate
    * count the combiner would emit.
    */
  def packetsBaseline(docs: DataFrame): DataFrame =
    summedCounts(docs, Seq(col("source")))
      .groupBy("source").agg(count(lit(1)).as("packets"), sum("cnt").as("tokens"))
      .orderBy("source")

  /** Reference O11 sink parity (`WordCountDriver.java:59`, default
    * TextOutputFormat): write raw `word TAB count` text lines — no CSV
    * quoting or escaping, so a word is written exactly as counted.
    *
    * Layout: one part file per reducer, as Hadoop writes it. When the
    * input's top node is a global sort (as in [[wordCount]]), the sort
    * is made per-partition: each part file is one final-aggregate hash
    * partition sorted by word, and each word is in exactly one file.
    * That saves the range-sampling job and the second exchange of a
    * global sort. The reference never sets `numReduceTasks`
    * (`WordCountDriver.java:30-32` is a dead field), so Hadoop would run
    * one reducer; but its coded encoder targets `numReduceTasks`
    * reducers (`WordCount.java:132,152`), so the design assumes N
    * reducers, each writing its own key-sorted `part-r-*` — the layout
    * written here. A caller that needs one globally sorted file calls
    * `coalesce(1)` first. Any other input (a limit over a sort, as in
    * [[wordCountTopK]], or no sort) is written as it is.
    */
  def writeTsv(wordcounts: DataFrame, path: String): Unit =
    reducerSorted(wordcounts)
      .select(concat_ws("\t", col("word"), col("cnt").cast(StringType)))
      .write.mode("overwrite").text(path)

  /** `df` with a top-level global sort made per-partition; else `df`. */
  private def reducerSorted(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case s: Sort if s.global =>
      new classic.Dataset[Row](df.sparkSession.asInstanceOf[classic.SparkSession],
        s.copy(global = false), Encoders.row(df.schema))
    case _ => df
  }

  /** Faithful O4: the reference's `FileLocationsLookup`
    * (`FileLocationsLookup.java:20-65`) maps a record's byte offset
    * to its HDFS block and that block's replica hosts. Analog: a
    * document's offset within its source file is the running sum of
    * `n_chars` (one window pass, partitioned by source); offset /
    * blockSize is the block; the replica pair {h, (h+1) % 3}
    * (reference topology: 3 nodes, replication 2,
    * `WordCount.java:141,174`) comes from an arithmetic hash of
    * (source, block) that the SQL oracle reproduces exactly. Output
    * is the per-block lookup table — block, hosts, document count,
    * first offset — that a locality-aware scheduler would consume.
    */
  def offsetRangeLookup(docs: DataFrame, blockSize: Long = 4096): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("offset", coalesce(sum(col("n_chars")).over(w), lit(0L)))
      .withColumn("block", floor(col("offset") / blockSize).cast("long"))
      .withColumn("h", pmod(col("block") + length(col("source")), lit(3)).cast("long"))
      .groupBy("source", "block", "h")
      .agg(count(lit(1)).as("n_docs"), min("offset").as("first_offset"))
      .select(col("source"), col("block"),
        concat(lit("node"), col("h").cast("string"),
          lit(",node"), pmod(col("h") + 1, lit(3)).cast("string")).as("hosts"),
        col("n_docs"), col("first_offset"))
      .orderBy("source", "block")
  }
}
