package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.functions.NativeText
import graft.operators.WordCountOps
import graft.plans.CodedShuffleSim
import graft.sources.TextSource
import graft.streaming.EventStreams

/** What a finished job hands back: named samples for the report, and
  * the untimed answer check (None when the answer is right).
  */
final case class Outcome(samples: Map[String, Seq[Double]], check: () => Option[String])

/** One benchmark workload over a generated corpus directory. */
trait Workload {
  /** The timed job: from the input files to a complete result. */
  def job(spark: SparkSession, tr: Tracer, out: String): Outcome

  /** Traced runs only: single-layer passes whose differences split the
    * job's time by layer, and layers the job does not call; returns
    * named samples and throws when a pass answers wrong.
    */
  def probes(spark: SparkSession, tr: Tracer, out: String): Map[String, Seq[Double]] = Map.empty
}

/** The generator's truth digest (see `gen.py`): total tokens, distinct
  * words, and the sum over (word, count) pairs of md5prefix60("word\tcount").
  */
final case class Truth(tokens: Long, distinct: Long, digest: BigInt) {
  def compare(what: String, pairs: Iterator[(String, Long)]): Option[String] = {
    var n, total = 0L
    var sum = BigInt(0)
    pairs.foreach { case (w, c) => n += 1; total += c; sum += Truth.md5prefix60(s"$w\t$c") }
    if (n == distinct && total == tokens && sum == digest) None
    else Some(s"$what: $n words / $total tokens / digest $sum, " +
      s"expected $distinct / $tokens / $digest")
  }
}

object Truth {
  def md5prefix60(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    var v = 0L
    for (i <- 0 until 8) v = (v << 8) | (d(i) & 0xffL)
    v >>> 4
  }

  def load(corpus: String): Truth = {
    val j = Json.read(new File(corpus, "truth.json"))
    Truth(j("tokens").toString.toLong, j("distinct").toString.toLong,
      BigInt(j("digest").toString))
  }

  /** (word, count) pairs of a `word<TAB>count` output directory. */
  def tsvPairs(dir: String): Iterator[(String, Long)] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).iterator
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)
      .map { line =>
        val tab = line.lastIndexOf('\t')
        line.substring(0, tab) -> line.substring(tab + 1).toLong
      }
}

object Workloads extends AdaptiveSparkPlanHelper {

  def apply(name: String, corpus: String): Workload = name match {
    case "wc_zipf_parquet"    =>
      new WordCountJob(corpus, s => Tables.documents(s, corpus), probeLayers = true)
    case "wc_text_smallvocab" =>
      new WordCountJob(corpus, s => TextSource.readAsDocuments(s, s"$corpus/text"))
    case other                => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** `WordCountOps.wordCount` -> `writeTsv`, checked against the truth
    * digest as a multiset of (word, count) lines. With `probeLayers`,
    * traced runs also measure the two layers the job does not call, on
    * the corpus's large vocabulary: plans (`simulate` over the corpus's
    * document slice) and streaming (the corpus's stream files drained).
    */
  final class WordCountJob(corpus: String, read: SparkSession => DataFrame,
                           probeLayers: Boolean = false)
      extends Workload {
    private val truth = Truth.load(corpus)

    def job(spark: SparkSession, tr: Tracer, out: String): Outcome = {
      val docs = tr.span("sources.read")(read(spark))
      val wc = tr.span("operators.wordCount")(WordCountOps.wordCount(docs))
      tr.span("sources.writeTsv")(WordCountOps.writeTsv(wc, out))
      Outcome(Map.empty, () => truth.compare("tsv", Truth.tsvPairs(out)))
    }

    override def probes(spark: SparkSession, tr: Tracer, out: String): Map[String, Seq[Double]] = {
      val docs = read(spark)
      val scan = docs.agg(sum(length(col("text"))))
      tr.span("sources.scan")(scan.collect())
      // the scan's own "size of files read": task input metrics miss
      // the parquet reader's vectored reads
      val bytesRead = collect(scan.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("filesSize").fold(0L)(_.value)
      }.sum
      val tokens = tr.span("functions.tokenize") {
        NativeText.register(spark)
        docs.select(explode(NativeText.tokens(col("text")))).count()
      }
      tr.span("operators.aggregate")(
        WordCountOps.wordCount(docs).write.format("noop").mode("overwrite").save())
      val slice = s"$corpus/slice"
      val layers =
        if (!probeLayers) Nil
        else Seq(codedShuffle(tr, slice, Tables.documents(spark, slice)),
          new StreamJob(corpus).job(spark, tr, out))
      layers.foreach(_.check().foreach(wrong => throw new IllegalStateException(wrong)))
      layers.flatMap(_.samples).toMap ++
        Map("tokens" -> Seq(tokens.toDouble), "bytes_read" -> Seq(bytesRead.toDouble))
    }
  }

  /** `CodedShuffleSim.simulate` with the production default
    * `checkDecode = false`; packet counts checked against the DuckDB
    * oracle row stored beside the documents in `dir`.
    */
  def codedShuffle(tr: Tracer, dir: String, docs: DataFrame): Outcome = {
    val r = tr.span("plans.simulate")(CodedShuffleSim.simulate(docs))
    val samples = Map(
      "naive_packets" -> Seq(r.naivePackets.toDouble),
      "packets_sent" -> Seq(r.packetsSent.toDouble),
      "encoded_packets" -> Seq(r.encodedPackets.toDouble),
      "decode_ok" -> Seq(if (r.decodedOk) 1.0 else 0.0))
    Outcome(samples, () => {
      val oracle = Json.read(new File(dir, "coded_oracle.json"))
      val want = Seq("naive_packets", "packets_sent", "encoded_packets")
        .map(k => oracle(k).toString.toLong)
      val got = Seq(r.naivePackets, r.packetsSent, r.encodedPackets)
      if (!r.decodedOk) Some("decode failed")
      else if (got != want) Some(s"packets $got, oracle $want")
      else None
    })
  }

  /** The corpus's split parquet files drained through
    * `EventStreams.readDocumentsStream` (one file per trigger) into
    * `streamingWordCount`, update mode, AvailableNow trigger, noop sink.
    * The check reads the final aggregation state back from the
    * checkpoint and compares it with the batch truth.
    */
  final class StreamJob(corpus: String) {
    private val truth = Truth.load(corpus)

    def job(spark: SparkSession, tr: Tracer, out: String): Outcome = {
      val query = tr.span("streaming.query") {
        val docs = EventStreams.readDocumentsStream(spark, s"$corpus/stream")
        val q = EventStreams.streamingWordCount(docs).writeStream
          .outputMode("update")
          .format("noop")
          .option("checkpointLocation", out)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q
      }
      val batches = query.recentProgress.filter(_.numInputRows > 0).toSeq
      val last = batches.lastOption.flatMap(_.stateOperators.headOption)
      val samples = Map(
        "batch_s" -> batches.map(_.durationMs.get("triggerExecution").toDouble / 1000),
        "batches" -> Seq(batches.size.toDouble),
        "state_rows" -> Seq(last.fold(0.0)(_.numRowsTotal.toDouble)),
        "state_mem_mb" -> Seq(last.fold(0.0)(_.memoryUsedBytes / 1048576.0)),
        "state_commit_s" -> batches.flatMap(_.stateOperators.headOption)
          .map(_.commitTimeMs / 1000.0),
        "rows_per_s" -> batches.map(_.processedRowsPerSecond))
      Outcome(samples, () => {
        val state = spark.read.format("statestore").load(out)
          .select(col("key.word"), col("value.*"))
        truth.compare("final state", state.toLocalIterator().asScala
          .map(r => r.getString(0) -> r.getAs[Number](1).longValue))
      })
    }
  }
}
