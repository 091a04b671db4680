package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, KeyValueGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

import graft.Tables.{eventDay, eventMs, eventTime}
import graft.sources.Fixtures

/** Structured Streaming variants of the events analytics: the same
  * logical queries as [[graft.operators.EventsOps]], expressed as
  * incremental plans with watermarks and keyed state.
  *
  * The batch versions remain the oracle-checkable surface (streams
  * can't be hash-compared by the driver); these exist so a user of
  * the engine can run the same semantics continuously. Tests drive
  * them with a MemoryStream / file source over the same fixtures.
  */
object EventStreams {

  /** The nanos-long events contract ([[graft.Tables.events]]): the
    * schema a stream starts with when the source directory is still
    * empty and no file is available to probe.
    */
  val eventsContractSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming source over a directory of events parquet.
    * `maxFilesPerTrigger=1` gives deterministic micro-batches locally;
    * on a cluster this is the same plan over a real queue/log source.
    * A streaming file source needs its schema up front, and the
    * fixture's physical `ts` type varies across driver regenerations
    * (nanos-long vs micros-timestamp) — so probe the files with a
    * batch read and normalize onto the nanos-long contract the same
    * way [[graft.Tables.events]] does; the normalization is a
    * stateless projection, safe ahead of any watermark.
    */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // An empty source directory has nothing to probe ("unable to infer
    // schema"); fall back to the nanos-long contract so a stream can
    // start before the first file arrives (files then conform or the
    // first micro-batch fails loudly). The fallback is gated on the
    // directory actually being empty/absent — a probe failure over a
    // NON-empty directory (corrupt footer, mixed schemas, permissions)
    // must fail loudly here, not surface confusingly mid-stream.
    def isEmptyDir(p: String): Boolean = {
      val f = new java.io.File(p)
      !f.exists() || Option(f.listFiles()).forall(_.forall(_.getName.startsWith("_")))
    }
    val physical =
      try spark.read.parquet(dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          if (isEmptyDir(dir)) eventsContractSchema else throw e
      }
    graft.Tables.normalizeEventsTs(
      spark.readStream
        .schema(physical)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir))
  }

  /** File-based streaming source over a directory of documents
    * parquet (schema taken from a batch read of the same files —
    * streaming file sources require one up front).
    */
  def readDocumentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** Run a configured, unstarted stream writer over everything its
    * source holds now: one AvailableNow trigger (still one file per
    * micro-batch under `maxFilesPerTrigger`), awaited and stopped. A
    * failed micro-batch rethrows here, so a layout built through it
    * never writes its marker over a broken replay. The `ingest*` and
    * `write*` functions below return such writers; a continuous run
    * calls `.start()` on the same writer instead.
    */
  def drain(writer: DataStreamWriter[Row]): Unit = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
  }

  /** `stream` into an append-mode parquet sink at `outDir`. */
  private def appendParquet(stream: DataFrame, outDir: String,
                            checkpointDir: String): DataStreamWriter[Row] =
    stream.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")

  /** `stream` handed to `fold(batch, batchId)` once per micro-batch. */
  private def eachBatch(stream: DataFrame, checkpointDir: String)
                       (fold: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) => fold(batch, id) }

  /** A write-once streamed layout over one fixture table: keyed on
    * `tag`, `params` and the table's fingerprint
    * ([[graft.sources.Fixtures.ensure]]), built from a wiped directory
    * with `_SUCCESS` written only after `build` returns
    * ([[graft.sources.Fixtures.cleanBuild]]) — a partial layout's stale
    * checkpoint is never resumed.
    */
  private def streamedLayout(tag: String, sfDir: String, table: String,
                             params: String = "")(build: String => Unit): String =
    Fixtures.ensure(tag, sfDir, Seq(s"$sfDir/$table.parquet"), params) { path =>
      Fixtures.cleanBuild(path, Seq("_SUCCESS"))(build(path))
    }

  /** The staged two-phase replay behind the event-sink layouts: stage
    * `phase1` as `_src/phase1.parquet`, drain `sink` into `path`, stage
    * `phase2` as `_src/phase2.parquet` and drain again from the same
    * `_checkpoint`, so the second run starts under the first run's
    * committed watermark and keyed state. Each staged file is one
    * micro-batch ([[stageSingleParquet]]), so the watermark sequence is
    * a function of the data and the split alone.
    */
  private[graft] def twoPhaseReplay(spark: SparkSession, path: String,
                                    phase1: DataFrame, phase2: DataFrame)
                                   (sink: (DataFrame, String, String) => DataStreamWriter[Row]): Unit = {
    val src = java.nio.file.Paths.get(path, "_src")
    def run(): Unit =
      drain(sink(readEventsStream(spark, src.toString), path, s"$path/_checkpoint"))
    stageSingleParquet(phase1, src.resolve("phase1.parquet"))
    run()
    stageSingleParquet(phase2, src.resolve("phase2.parquet"))
    run()
  }

  /** The replays' usual split: phase 2 is the straggler slice
    * `event_id % 5 = 0`, phase 1 the on-time rest. */
  private def straggler: Column = pmod(col("event_id"), lit(5)) === 0

  /** The reference's wordcount as a CONTINUOUS query: the batch
    * [[graft.operators.WordCountOps.wordCount]]'s counting kernel
    * (`graft_token_counts` summed per word) run incrementally over a
    * document stream. Each micro-batch folds its per-task partial
    * counts into keyed state between a partial and a final
    * HashAggregate ([[graft.operators.KernelCombiner]]'s final-only
    * aggregate is for batch plans only); the state value is the running
    * `sum`. A checkpoint written by an earlier explode-and-count plan
    * holds a `count` value instead, and a restart over it fails at once
    * on the state schema check (StreamingSpec). Run with Update/Complete
    * output mode (a running count has no append point).
    */
  def streamingWordCount(docs: DataFrame): DataFrame =
    graft.operators.WordCountOps.summedCounts(docs)

  /** Streaming distinct-user estimate per event type with the custom
    * KMV sketch aggregate: the mergeable k-bounded buffer is exactly
    * what incremental state wants — each micro-batch's partial sketch
    * merges into the state-store buffer, state per (type) is ≤ k
    * doubles forever, and the final estimate is bit-identical to the
    * batch [[graft.operators.EventsOps.kmvDistinctEventsAgg]] (the
    * merge is order-insensitive). Complete output mode: the estimate
    * is re-emitted per trigger, like the streaming wordcount.
    */
  def streamingKmvDistinct(events: DataFrame, k: Int = 64): DataFrame = {
    events
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("double").as("h"))
      .groupBy("event_type")
      .agg(graft.functions.SketchFunctions.kmvEst(col("h"), k).as("est_users"))
  }

  /** The count-min grid as INCREMENTAL streaming state: each
    * micro-batch's partial grid merges elementwise into the state
    * store (complete-mode agg), so the frequency sketch of the whole
    * stream is live at any point — and because the merge is the same
    * elementwise add the batch plan uses, the streamed grid is
    * bit-identical to the batch grid over the same events
    * (StreamingSpec). Constant d×w state per group.
    */
  def streamingCmsGrid(events: DataFrame, d: Int = 4, w: Int = 256): DataFrame = {
    events
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("x"))
      .groupBy("event_type")
      .agg(graft.functions.SketchFunctions.cms(col("x"), d, w).as("grid"))
  }

  /** Stream-static dimension enrich — the one join shape the family
    * was missing: the event stream joined to BATCH dimension tables
    * (customer → nation), then aggregated. A stream-static join keeps
    * NO streaming state and needs no watermark — the static side is
    * simply re-planned into every micro-batch, here as the same
    * broadcast hash join the batch q5 chain uses (dims are
    * dimension-sized by definition; at 100 TB the fact side is the
    * stream and the broadcast is per-executor once per batch).
    * Purchase spend is summed as decimal(18,6): exact and
    * order-insensitive, so the incremental micro-batch fold is
    * bit-identical to the one-shot batch aggregate no matter how the
    * trigger slices the input. Works identically on a batch `events`
    * frame (the spec runs both sides through this same plan).
    */
  def enrichedSpendByNation(events: DataFrame, customers: DataFrame,
                            nations: DataFrame): DataFrame =
    events
      .where(col("event_type") === "purchase")
      .join(broadcast(customers.select(col("c_custkey"), col("c_nationkey"))),
        col("user_id") === col("c_custkey"))
      .join(broadcast(nations.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,6)")).as("spend"))

  /** `events` with its event-time column `event_time` ([[graft.Tables
    * .eventTime]]) under a `watermark` delay. */
  private def watermarked(events: DataFrame, watermark: String): DataFrame =
    events.withColumn("event_time", eventTime).withWatermark("event_time", watermark)

  /** Sliding/tumbling windowed counts per event type with a watermark:
    * the incremental form of `EventsOps.hourly`. Late data beyond the
    * watermark is dropped; state is bounded by (watermark / window).
    */
  def windowedCounts(events: DataFrame,
                     window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    watermarked(events, watermark)
      .groupBy(window(col("event_time"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup on event_id with watermark-bounded state:
    * duplicates arriving within the watermark horizon are dropped,
    * state for expired event-times is evicted — the streaming form of
    * `DedupOps.exactDedup` for an at-least-once upstream.
    */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    watermarked(events, watermark)
      .dropDuplicates("event_id", "event_time")

  /** Watermark-window dedup: unlike [[dedupEvents]] (exact match on
    * (event_id, event_time)), `dropDuplicatesWithinWatermark` drops a
    * replayed event_id even when the replica carries a slightly
    * different timestamp — the practical at-least-once upstream case
    * (e.g. a producer re-send stamped at re-send time). State per key
    * is evicted once the watermark passes its first-seen time.
    */
  def dedupEventsWithinWatermark(events: DataFrame,
                                 watermark: String = "1 hour"): DataFrame =
    watermarked(events, watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming corpus ingest with dedup — the continuous form of
    * [[graft.operators.DedupOps.incrementalDedup]]: an arriving
    * document stream is (1) collapsed to one row per content digest
    * within the stream via `dropDuplicates` keyed state, and (2)
    * anti-joined against the STATIC already-ingested corpus index (a
    * stream-static join is stateless: each micro-batch probes the
    * index, nothing buffers — but the static side's PLAN re-executes
    * per micro-batch, so the fingerprint projection is persisted
    * here: hash the corpus once, not once per batch. At scale the
    * static side is the stored fingerprint index read directly).
    * Emits the genuinely-new documents — the pipeline's steady-state
    * ingest front door. State for (1) is digest-keyed and unbounded
    * by design here (exact once-ever semantics, the batch job's
    * contract — bound it with dropDuplicatesWithinWatermark when the
    * upstream is at-least-once within a horizon instead).
    */
  def ingestDedupStream(docsStream: DataFrame, corpusIndex: DataFrame): IngestDedup = {
    val fp = md5(lower(col("text")))
    val corpusFps = corpusIndex.select(md5(lower(col("text"))).as("fp")).persist()
    val stream = docsStream
      .select(col("doc_id"), col("text"), fp.as("fp"))
      .dropDuplicates("fp")
      .join(corpusFps, Seq("fp"), "left_anti")
      .select("doc_id", "fp")
    IngestDedup(stream, corpusFps)
  }

  /** Handle pair from [[ingestDedupStream]]: the deduped stream plus
    * the persisted static fingerprint projection it probes. Callers
    * own the cache lifetime — `close()` after the query stops, or a
    * long-lived session leaks one cached relation per invocation
    * (the [[graft.operators.DedupOps.connectedComponents]]
    * persist/unpersist discipline, surfaced instead of hidden). */
  final case class IngestDedup(stream: DataFrame, corpusFps: DataFrame) {
    def close(): Unit = { corpusFps.unpersist(); () }
  }

  /** Streaming NEAR-dedup ingest front door — the LSH analog of
    * [[ingestDedupStream]]: each arriving micro-batch probes the
    * PERSISTED corpus band index
    * ([[graft.operators.DedupOps.lshIndexDir]]) and emits its
    * verified near-dup pairs. The probe needs batch-only ops (the
    * bucket-cap aggregate, candidate distinct, the verification
    * join), so it runs inside `foreachBatch` with the exact batch
    * operator — semantics identical to
    * [[graft.operators.DedupOps.incrementalNearDedup]], micro-batch
    * by micro-batch (within-batch self pairs included; cross-batch
    * arriving-arriving pairs become the index's job once earlier
    * batches are folded into it, which at scale is the ingest
    * pipeline's index-maintenance step). Pairs land idempotently as
    * `batch_id=` directories (the [[writeEventsIdempotent]] recipe),
    * so a crash-replayed batch overwrites itself instead of
    * appending duplicates.
    */
  def ingestNearDedupStream(docsStream: DataFrame, docs: DataFrame,
                            sfDir: String, outDir: String,
                            checkpointDir: String): DataStreamWriter[Row] =
    eachBatch(docsStream, checkpointDir) { (batch, id) =>
      graft.operators.DedupOps
        .incrementalNearDedupFrom(batch, docs, sfDir,
          threshold = 0.8, maxBucket = 1000, includeBatchSelfPairs = true)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
    }

  /** Stage the fixture table `table` whole into `path/_src` (a file
    * stream source wants a directory; `_src` stays hidden from a read
    * of the layout) and return that directory.
    */
  private def stageCopy(sfDir: String, path: String, table: String): String = {
    val srcDir = java.nio.file.Paths.get(path, "_src")
    java.nio.file.Files.createDirectories(srcDir)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/$table.parquet"),
      srcDir.resolve(s"$table.parquet"))
    srcDir.toString
  }

  /** Stage `df` into `path/_src` as TWO parquet files, so a replay at
    * one file per trigger folds at least two micro-batches, and return
    * that directory.
    */
  private def stageTwoFiles(df: DataFrame, path: String): String = {
    df.repartition(2).write.parquet(s"$path/_src")
    s"$path/_src"
  }

  /** Write-once STREAMED near-dedup pair layout: replay the fixture's
    * odd-id documents through [[ingestNearDedupStream]] to
    * termination ([[drain]], a real checkpointed micro-batch run) —
    * the registry's `streamed_ingest_pairs` reads the landed
    * pairs back while the oracle recomputes exact Jaccard from the
    * ORIGINAL documents table, so the streaming near-dedup path
    * (source → index probe → idempotent sink) joins the hash gate
    * the way `streamed_day_counts` put the partitioned event sink
    * under it.
    */
  def streamedNearDedupLayout(spark: SparkSession, sfDir: String): String =
    // params "h2": the landed pairs came from probing the versioned
    // LSH index (see DedupOps.lshIndexDir) — keep the layouts in step
    streamedLayout("streamdedup", sfDir, "documents", params = "h2") { path =>
      val arriving = readDocumentsStream(spark, stageCopy(sfDir, path, "documents"))
        .where(pmod(col("doc_id"), lit(2)) === 1)
      drain(ingestNearDedupStream(arriving,
        graft.Tables.documents(spark, sfDir), sfDir, path, s"$path/_checkpoint"))
    }

  /** STREAMED semantic (embedding) ingest: each micro-batch of
    * arriving vectors probes the PERSISTED centroid model
    * ([[graft.operators.SimilarityOps.semanticDedupBatch]] — frozen
    * centroids, corpus cluster counts, combined-population cap)
    * inside `foreachBatch`, landing dup pairs idempotently as
    * `batch_id=` directories. The embedding-family analog of
    * [[ingestNearDedupStream]]: the corpus is never re-clustered or
    * self-joined; folding accepted batches into the model's
    * assignment/counts is the ingest pipeline's index-maintenance
    * step at scale.
    */
  def ingestSemanticDedupStream(vecStream: DataFrame, emb: DataFrame,
                                sfDir: String, outDir: String,
                                checkpointDir: String): DataStreamWriter[Row] =
    eachBatch(vecStream, checkpointDir) { (batch, id) =>
      graft.operators.SimilarityOps
        .semanticDedupBatch(batch, emb, sfDir)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
    }

  /** Write-once STREAMED semantic-dedup pair layout: replay the
    * fixture's odd-id embeddings through [[ingestSemanticDedupStream]]
    * to termination ([[drain]], a real checkpointed micro-batch run).
    * The registry's `streamed_vector_pairs` reads
    * the landed pairs back while the oracle recomputes the whole
    * model + restriction from the ORIGINAL embeddings table, so the
    * streamed embedding front door (source → centroid-model probe →
    * idempotent sink) joins the hash gate the way
    * [[streamedNearDedupLayout]] put the LSH probe under it.
    */
  def streamedSemanticLayout(spark: SparkSession, sfDir: String): String =
    streamedLayout("streamsem", sfDir, "embeddings") { path =>
      val arriving = readDocumentsStream(spark, stageCopy(sfDir, path, "embeddings"))
        .where(pmod(col("vec_id"), lit(2)) === 1)
      drain(ingestSemanticDedupStream(arriving,
        graft.Tables.embeddings(spark, sfDir), sfDir, path, s"$path/_checkpoint"))
    }

  /** STREAMED index MAINTENANCE for the retrieval family: each
    * micro-batch of arriving documents folds into the persisted
    * postings index
    * ([[graft.operators.RetrievalOps.foldBatchIntoPostings]] —
    * postings append, lexicon delta merge, exact-long stats advance)
    * inside `foreachBatch`. Where the other streamed front doors
    * PROBE a frozen index, this one MUTATES it — the claim under the
    * gate is that per-micro-batch folds compose: fold(fold(I, b1),
    * b2) equals one fold of b1 ∪ b2 equals a rebuild, whatever the
    * micro-batch boundaries. Delivery note: the fold is an
    * at-least-once sink (a retried batch would double-append); the
    * fixture replay is a single-attempt AvailableNow run, and a
    * production deployment stages each batch under a batch_id
    * manifest before folding — the standard two-phase pattern this
    * repo's idempotent `batch_id=` sinks already demonstrate.
    */
  def ingestPostingsFoldStream(docsStream: DataFrame, indexDir: String,
                               checkpointDir: String): DataStreamWriter[Row] =
    eachBatch(docsStream, checkpointDir) { (batch, _) =>
      graft.operators.RetrievalOps.foldBatchIntoPostings(batch, indexDir)
    }

  /** Write-once STREAMED postings-fold layout: the index is built
    * from the even-doc half, then the odd half arrives as a REAL
    * checkpointed micro-batch stream — deliberately written as TWO
    * source files with maxFilesPerTrigger=1, so the fold runs at
    * least twice and the gate covers multi-batch composition, not
    * one lucky batch. The registry's `streamed_bm25_fold` probes the
    * folded index against the same full-corpus oracle as the inline
    * BM25, so stream-maintained state == batch rebuild is checked by
    * hash.
    */
  def streamedPostingsLayout(spark: SparkSession, sfDir: String): String =
    streamedLayout("streampost", sfDir, "documents",
      params = s"b${graft.operators.RetrievalOps.WordBuckets}") { path =>
      val docs = graft.Tables.documents(spark, sfDir)
      val srcDir = stageTwoFiles(docs.where(pmod(col("doc_id"), lit(2)) === 1), path)
      val idx = s"$path/index"
      graft.operators.RetrievalOps.writePostingsIndex(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), idx)
      drain(ingestPostingsFoldStream(readDocumentsStream(spark, srcDir), idx,
        s"$path/_checkpoint"))
    }

  /** STREAMED weighted priority sampling — the SAMPLING member of
    * the streamed index-fold family: each arriving micro-batch folds
    * into the per-source top-(K+1) priority state
    * ([[graft.operators.PipelineOps.prioFold]], the CDC fold's
    * versioned-chain discipline: read v, write v+1, never overwrite
    * what you read; `latestCdcVersion` skips uncommitted dirs).
    * Fold composition is structural — top-(K+1) over set union is
    * associative/commutative and priorities are row-local — so the
    * final state equals the batch sampler's over the whole corpus
    * and `streamed_priority_sample` shares
    * `priority_sample_weighted`'s oracle verbatim. foreachBatch is
    * at-least-once: a batch retried after its v+1 commit (but before
    * the checkpoint's) folds again into v+2, which is safe because
    * [[graft.operators.PipelineOps.prioFold]] dedups the union on
    * (source, doc_id) — refolding already-folded rows is a state
    * no-op, the same idempotence argument the ivfPq fold's per-batch
    * manifest makes by keying on batchId.
    */
  def ingestPrioFoldStream(docsStream: DataFrame, stateRoot: String,
                           checkpointDir: String): DataStreamWriter[Row] =
    foldVersions(docsStream, stateRoot, checkpointDir)(graft.operators.PipelineOps.prioFold)

  /** `stream` folded into the version chain under `stateRoot` once per
    * micro-batch: read the latest committed `v<n>`, write
    * `fold(state, batch)` as `v<n+1>` — never over the files it reads.
    */
  private def foldVersions(stream: DataFrame, stateRoot: String, checkpointDir: String)
                          (fold: (DataFrame, DataFrame) => DataFrame): DataStreamWriter[Row] =
    eachBatch(stream, checkpointDir) { (batch, _) =>
      val cur = latestCdcVersion(stateRoot)
      fold(batch.sparkSession.read.parquet(s"$stateRoot/v$cur"), batch)
        .write.mode("overwrite").parquet(s"$stateRoot/v${cur + 1}")
    }

  /** Write-once streamed priority-sample layout: state seeded from
    * the even-doc half, the odd half arriving as TWO real
    * checkpointed micro-batches (two source files,
    * maxFilesPerTrigger=1), so the gate covers multi-batch fold
    * composition. Returns the state root; the registry query reads
    * the latest committed version.
    */
  def streamedPrioLayout(spark: SparkSession, sfDir: String): String =
    streamedLayout("streamprio", sfDir, "documents",
      params = s"k${graft.operators.PipelineOps.PrioK}") { path =>
      val docs = graft.Tables.documents(spark, sfDir)
      graft.operators.PipelineOps
        .prioTopState(docs.where(pmod(col("doc_id"), lit(2)) === 0))
        .write.parquet(s"$path/state/v0")
      val srcDir = stageTwoFiles(docs.where(pmod(col("doc_id"), lit(2)) === 1), path)
      drain(ingestPrioFoldStream(readDocumentsStream(spark, srcDir), s"$path/state",
        s"$path/_checkpoint"))
    } + "/state"

  /** STREAMED coded-list maintenance — the VECTOR-INDEX member of
    * the streamed index-fold family (postings fold, CDC fold, LSH
    * ingest): each micro-batch of arriving vectors is routed and
    * PQ-encoded under the FROZEN models and appended into its
    * inverted-list partitions
    * ([[graft.operators.SimilarityOps.ivfPqAppendBatch]]) inside
    * `foreachBatch`. Folds compose trivially here — a code word is a
    * pure per-row function of the vector and the frozen models, so
    * ANY micro-batch split lands the identical layout; the gate's
    * claim is stream-maintained == batch upsert == from-scratch
    * rebuild (the three paths share one oracle). Same at-least-once
    * note as the postings fold: a retried batch would double-append,
    * and production stages per-batch manifests (the idempotent
    * `batch_id=` sink discipline this repo demonstrates elsewhere).
    */
  def ingestIvfPqFoldStream(vecStream: DataFrame, centroids: DataFrame,
                            codebook: DataFrame, listsDir: String,
                            checkpointDir: String): DataStreamWriter[Row] =
    eachBatch(vecStream, checkpointDir) { (batch, _) =>
      graft.operators.SimilarityOps.ivfPqAppendBatch(batch, centroids, codebook, listsDir)
    }

  /** Write-once STREAMED coded-list layout: the even-id corpus is
    * built in batch under the corpus-frozen models, then the odd half
    * arrives as a REAL checkpointed micro-batch stream — two source
    * files with maxFilesPerTrigger=1, so the fold runs at least twice
    * and the gate covers multi-batch composition. The registry's
    * `streamed_ivfpq_upsert` probes this layout against the batch
    * upsert's from-scratch oracle.
    */
  def streamedIvfPqLayout(spark: SparkSession, sfDir: String): String = {
    val ops = graft.operators.SimilarityOps
    streamedLayout("streamivfpq", sfDir, "embeddings",
      params = s"m98c16q${ops.PqK}") { path =>
      val emb = graft.Tables.embeddings(spark, sfDir)
      val centroids = spark.read.parquet(
        ops.upsertCentroidsDir(emb, sfDir, 98, 16, 1, 0.0))
      val codebook = spark.read.parquet(ops.pqUpsertCodebookDir(emb, sfDir))
      val srcDir = stageTwoFiles(emb.where(pmod(col("vec_id"), lit(2)) === 1), path)
      val lists = s"$path/lists"
      ops.ivfPqCorpusBuild(emb.where(pmod(col("vec_id"), lit(2)) === 0),
        centroids, codebook, lists)
      drain(ingestIvfPqFoldStream(readDocumentsStream(spark, srcDir),
        centroids, codebook, lists, s"$path/_checkpoint"))
    } + "/lists"
  }

  /** STREAMED graph-index maintenance — the NSW member of the
    * streamed index-fold family: each micro-batch of arriving
    * vectors links into the persisted adjacency under the FROZEN
    * corpus models ([[graft.operators.SimilarityOps.nswAppendBatch]])
    * inside `foreachBatch`. Folds compose trivially: a batch
    * vector's edges are a pure function of (that row, the frozen
    * corpus + partition seeds) — batch-batch links are deliberately
    * NOT part of the append contract — so ANY micro-batch split
    * lands the identical edge set and the stream shares the batch
    * upsert's oracle (stream == batch == defined rebuild). Each
    * micro-batch lands as its own `batch_id=` partition with
    * mode(overwrite), so an at-least-once REDELIVERY overwrites its
    * own files instead of appending duplicate edge rows — the edge
    * set on disk equals the exactly-once set, not just up to
    * multiplicity (the idempotent batch_id= sink discipline).
    */
  def ingestNswFoldStream(vecStream: DataFrame, corpus: DataFrame,
                          edgesDir: String, checkpointDir: String): DataStreamWriter[Row] =
    eachBatch(vecStream, checkpointDir) { (batch, id) =>
      graft.operators.SimilarityOps.nswAppendBatch(batch, corpus, edgesDir, batchId = Some(id))
    }

  /** Write-once STREAMED graph layout: even-id corpus adjacency
    * built in batch, the odd half arriving as TWO real checkpointed
    * micro-batches (maxFilesPerTrigger=1) — the registry's
    * `streamed_nsw_upsert` probes this layout against the batch
    * upsert's from-scratch oracle.
    */
  def streamedNswLayout(spark: SparkSession, sfDir: String): String = {
    val ops = graft.operators.SimilarityOps
    streamedLayout("streamnsw", sfDir, "embeddings",
      params = s"g${ops.NswG}m${ops.NswUpsertMods.mkString("x")}akb") { path =>
      val emb = graft.Tables.embeddings(spark, sfDir)
      val corpus = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val srcDir = stageTwoFiles(emb.where(pmod(col("vec_id"), lit(2)) === 1), path)
      // the corpus build lands under its own batch_id=-1 partition so
      // the layout is uniformly batch_id-partitioned (mixing root
      // files with batch_id= subdirs breaks partition discovery); the
      // extra batch_id column is invisible to the probe, which only
      // consumes (src, dst)
      val edges = s"$path/edges"
      ops.nswEdges(corpus, ops.NswUpsertMods)
        .write.mode("overwrite").parquet(s"$edges/batch_id=-1")
      drain(ingestNswFoldStream(readDocumentsStream(spark, srcDir), corpus, edges,
        s"$path/_checkpoint"))
    } + "/edges"
  }

  /** STREAMED CDC apply: each micro-batch of changelog ops folds
    * into versioned keyed state via
    * [[graft.operators.RelationalOps.cdcFold]] inside `foreachBatch`
    * — the streaming MERGE sink. Each fold reads the latest state
    * version and writes the next (`v0, v1, ...` — the write-ahead
    * version chain a table format would keep), so a fold never
    * overwrites the files it is reading. Because `cdcFold` is
    * seq-guarded, micro-batches may deliver ops OUT OF ORDER across
    * batches and the final state still equals the one-batch apply —
    * the layout below delivers them newest-first on purpose.
    */
  def ingestCdcFoldStream(opsStream: DataFrame, stateRoot: String,
                          checkpointDir: String): DataStreamWriter[Row] =
    foldVersions(opsStream, stateRoot, checkpointDir)(graft.operators.RelationalOps.cdcFold)

  /** Highest committed state version under `stateRoot` (a committed
    * version has Spark's `_SUCCESS`; an interrupted fold's partial
    * dir is skipped and overwritten by the retry).
    */
  def latestCdcVersion(stateRoot: String): Long =
    Option(new java.io.File(stateRoot).listFiles()).toSeq.flatten
      .filter(f => f.getName.matches("v\\d+") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getName.drop(1).toLong)
      .max

  /** VERSION-CHAIN COMPACTION — the state-GC leg of the streamed CDC
    * sink: rewrite the latest state version with tombstones past
    * `horizon` dropped ([[graft.operators.RelationalOps.cdcCompact]])
    * as version `latest+1`, then delete every older version. The
    * chain is the fold's write-ahead history (each fold reads v and
    * writes v+1, never overwriting what it reads); unbounded it is
    * versions × state in storage, so production truncates it to the
    * newest version once no reader needs time travel past it. Crash
    * discipline mirrors the fold's: the compacted version COMMITS
    * (`_SUCCESS`) before any deletion starts, and `latestCdcVersion`
    * skips uncommitted dirs, so a crash anywhere leaves a readable,
    * monotone chain. Returns the surviving version number.
    */
  def compactCdcChain(spark: SparkSession, stateRoot: String,
                      horizon: Long): Long = {
    val cur = latestCdcVersion(stateRoot)
    val next = cur + 1
    graft.operators.RelationalOps.cdcCompact(
        spark.read.parquet(s"$stateRoot/v$cur"), horizon)
      .write.mode("overwrite").parquet(s"$stateRoot/v$next")
    // the commit-before-delete discipline must not rest on the
    // committer's global marker flag alone: if v(next) lacks its
    // _SUCCESS (e.g. a write that ran with the marker suppressed),
    // deleting the older versions would leave an unreadable chain —
    // fail loudly BEFORE any deletion instead
    require(new java.io.File(s"$stateRoot/v$next/_SUCCESS").exists(),
      s"compacted version v$next did not commit (_SUCCESS missing); " +
        "aborting before deleting the version chain")
    Option(new java.io.File(stateRoot).listFiles()).toSeq.flatten
      .filter(f => f.getName.matches("v\\d+") && f.getName.drop(1).toLong < next)
      .foreach(dir => Fixtures.deleteTree(dir.toPath))
    next
  }

  /** Write-once COMPACTED-chain layout: the [[streamedCdcLayout]]
    * version chain copied aside and run through
    * [[compactCdcChain]] at the post-changelog horizon — the state
    * collapses to ONE version with zero tombstones. The registry's
    * `streamed_cdc_compacted` reads it against the SAME oracle as
    * `cdc_apply`/`streamed_cdc_apply`: compaction == live chain,
    * hash-proven.
    */
  def streamedCdcCompactedLayout(spark: SparkSession, sfDir: String): String =
    streamedLayout("streamcdccomp", sfDir, "orders") { path =>
      val src = java.nio.file.Paths.get(streamedCdcLayout(spark, sfDir), "state")
      val dst = java.nio.file.Paths.get(path, "state")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
      // every changelog seq is <= CdcSeqOffset + max orderkey; the
      // fixture horizon (all ops delivered) is "past everything"
      compactCdcChain(spark, dst.toString, Long.MaxValue)
      ()
    }

  /** Write-once STREAMED CDC layout: state v0 = the initial
    * snapshot; the changelog then arrives as a REAL checkpointed
    * micro-batch stream in TWO files with the SECOND wave's
    * higher-sequenced updates delivered FIRST (explicit mtimes,
    * maxFilesPerTrigger=1 — the file source batches oldest-mtime
    * first). The wave-1 ops that arrive second must then LOSE on the
    * double-updated keys (seq guard), while their D/I ops still
    * land — out-of-order cross-batch delivery under the hash gate,
    * not just multi-batch composition. The registry's
    * `streamed_cdc_apply` reads the final version against the SAME
    * oracle as the batch `cdc_apply`.
    */
  def streamedCdcLayout(spark: SparkSession, sfDir: String): String =
    streamedLayout("streamcdc", sfDir, "orders") { path =>
      import graft.operators.RelationalOps
      val orders = graft.Tables.orders(spark, sfDir)
      RelationalOps.cdcSnapshot(orders).write.parquet(s"$path/state/v0")
      val srcDir = java.nio.file.Paths.get(path, "_src")
      val ops = RelationalOps.cdcOps(orders)
      def writeWave(df: DataFrame, name: String, mtimeMs: Long): Unit = {
        val dst = srcDir.resolve(s"$name.parquet")
        stageSingleParquet(df, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      }
      val t0 = System.currentTimeMillis() - 600000L
      writeWave(ops.where(col("seq") >= RelationalOps.CdcSeqOffset), "wave2", t0)
      writeWave(ops.where(col("seq") < RelationalOps.CdcSeqOffset), "wave1", t0 + 60000L)
      drain(ingestCdcFoldStream(readDocumentsStream(spark, srcDir.toString),
        s"$path/state", s"$path/_checkpoint"))
    }

  /** Stream-stream interval self-join: each purchase joined to the
    * same user's clicks within the preceding `intervalMinutes` — the
    * watermarked join whose state store holds only rows inside the
    * watermark horizon on both sides. The equi-key (user_id) routes
    * both streams through one exchange pair; the time-range predicate
    * bounds state retention (Spark derives the state cleanup
    * threshold from watermark + interval).
    *
    * `joinType = "left_outer"` makes EVERY purchase emit — attributed
    * to a preceding click within the interval when one exists,
    * null-padded otherwise. The null-padded rows exercise the
    * state-EVICTION semantics the inner join never does: an unmatched
    * purchase can only be declared unmatched (and emitted) once the
    * click-side watermark has passed the end of its match window, so
    * emission timing is governed by watermark progress, not data
    * arrival. State stays bounded exactly as in the inner join.
    */
  def clickPurchaseIntervalJoin(events: DataFrame,
                                intervalMinutes: Int = 30,
                                watermark: String = "1 hour",
                                joinType: String = "inner"): DataFrame = {
    val base = events
      .withColumn("event_time", eventTime)
    val clicks = base.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", watermark)
    val purchases = base.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("event_time").as("purchase_time"))
      .withWatermark("purchase_time", watermark)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_time") <= col("purchase_time") &&
        col("click_time") >= col("purchase_time") - expr(s"INTERVAL $intervalMinutes MINUTES"),
      joinType)
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_time"), col("click_id"), col("click_time"))
  }

  /** Contract for the HASH-GATED stream-stream join replay
    * (`streamed_join_pairs`), shared with the DuckDB oracle: join
    * interval, watermark delay, and the purchase-side sample that
    * keeps the pair fan-out bounded on skewed fixtures. The delay is
    * deliberately mid-span (15 days against the fixture's ~30-day
    * spread) so the two-phase replay exercises BOTH verdicts: part
    * of phase 2 is late (dropped on input), part is on time and
    * must match phase-1 state buffered across the restart.
    */
  val JoinIntervalMinutes = 60
  val JoinWatermark = "360 hours"
  val JoinWatermarkMs: Long = 360L * 3600L * 1000L
  val JoinPurchaseMod = 4L

  /** [[clickPurchaseIntervalJoin]] under the gate contract, into an
    * append-mode parquet sink. An inner join emits each match in the
    * batch where its second side arrives — no window flush; a
    * `"left_outer"` sink additionally holds NULL-PADDED rows for
    * purchases whose match window closed under the watermark with no
    * (non-late) click.
    */
  def writeJoinedPairs(events: DataFrame, outDir: String,
                       checkpointDir: String,
                       joinType: String = "inner"): DataStreamWriter[Row] =
    appendParquet(
      clickPurchaseIntervalJoin(
        events.where(!(col("event_type") === "purchase" &&
          pmod(col("event_id"), lit(JoinPurchaseMod)) =!= 1L)),
        JoinIntervalMinutes, JoinWatermark, joinType)
        .select(col("purchase_id"), col("user_id"),
          unix_millis(col("purchase_time")).as("p_ms"),
          col("click_id"), unix_millis(col("click_time")).as("c_ms")),
      outDir, checkpointDir)

  /** Write-once STREAM-STREAM-JOIN sink: the two-phase staged replay
    * ([[twoPhaseReplay]], phase 1 = `event_id%5!=0`, restart, phase 2 =
    * the rest) through the watermarked interval join, tagged
    * `joinsink` for the inner join and `ljoinsink` for `"left_outer"`.
    *
    * Inner: the final sink is a pure function of the data and the
    * split: every predicate-satisfying (purchase, click) pair lands
    * EXCEPT those involving a phase-2 row whose event time is below
    * the phase-1 watermark (late, filtered on input). State eviction
    * never costs a pair beyond that rule: an admitted phase-2 row's
    * match window lies entirely above the thresholds Spark derives
    * from the join condition (clicks ≥ WM−interval, purchases ≥ WM
    * are retained — the predicate implies any partner is, too). A
    * pair lost across the restart (join state not persisted), a late
    * row that joined anyway, or a double-emitted match all red the
    * hash. WM₁ is the MIN of the two sides' per-column watermarks
    * (Spark's default multiple-watermark policy), which the oracle
    * mirrors with `least()`.
    *
    * Left outer, the state-EVICTION companion: matched rows are the
    * inner join's exact set, and a null-padded row lands iff its
    * purchase was ADMITTED (on time for its arrival batch), found no
    * non-late click, and its match window closed under the FINAL
    * watermark (`p_ms < WM₂` — an unmatched purchase can only be
    * declared unmatched once no future click can legally match, so
    * emission is governed by watermark progress, not data arrival).
    * Purchases still open at termination stay in state and are
    * absent. A null row emitted early (before its window closed), a
    * match that leaked past the late filter, or an open purchase
    * flushed on shutdown all red the hash. The early-emit rule at
    * WM₁ is consistent by construction: a phase-1 purchase below WM₁
    * can never be matched by an admitted phase-2 click (it would
    * need `c_ms ≤ p_ms < WM₁`, i.e. a late click), so the two-run
    * emission union equals the single final-watermark rule the
    * oracle encodes.
    */
  def streamedJoinLayout(spark: SparkSession, sfDir: String,
                         joinType: String = "inner"): String = {
    val tag = joinType match {
      case "inner"      => "joinsink"
      case "left_outer" => "ljoinsink"
      case other => throw new IllegalArgumentException(
        s"no streamed join layout for join type '$other'")
    }
    streamedLayout(tag, sfDir, "events") { path =>
      val ev = graft.Tables.events(spark, sfDir)
      twoPhaseReplay(spark, path, ev.where(!straggler), ev.where(straggler))(
        writeJoinedPairs(_, _, _, joinType))
    }
  }

  // --- stateful sessionization -------------------------------------

  case class SessionInput(user_id: Long, ms: Long)
  case class SessionState(sessionStartMs: Long, lastMs: Long, nEvents: Long) {
    /** The session record this state closes into. */
    def close(user: Long): SessionOut =
      SessionOut(user, sessionStartMs, nEvents, lastMs - sessionStartMs)
  }
  case class SessionOut(user_id: Long, session_start_ms: Long,
                        n_events: Long, span_ms: Long)

  /** The session rule on keyed state, the one step every streaming
    * sessionizer runs: fold one micro-batch's ms values for `user`, in
    * ms order, into the user's open session. A value more than `gapMs`
    * past the open session's `lastMs` closes it and opens a new one;
    * any other value extends it. Returns the closed sessions and the
    * open state (None only when there was neither state nor a value);
    * each operator keeps only its own timeout or timer handling.
    *
    * PINNED CONTRACT: `lastMs` is the last PROCESSED value, not the
    * max. A cross-batch row that is late but within the watermark
    * moves the tail backward (shrinking `span_ms` and arming an
    * earlier timeout). Session islanding is thereby a pure function of
    * per-user processing order, which the replay oracle expresses with
    * lag(ms) (streamedSessionsOracle's b2/g2m: `last = rlast`, the
    * island's max BATCH ms); both event-time generations run this step,
    * so they stay on one oracle text.
    */
  def sessionStep(user: Long, open: Option[SessionState], ms: Iterator[Long],
                  gapMs: Long): (Seq[SessionOut], Option[SessionState]) = {
    val closed = Seq.newBuilder[SessionOut]
    var st = open
    for (m <- ms.toSeq.sorted) st = st match {
      case Some(s) if m - s.lastMs > gapMs =>
        closed += s.close(user)
        Some(SessionState(m, m, 1L))
      case Some(s) => Some(SessionState(s.sessionStartMs, m, s.nEvents + 1L))
      case None    => Some(SessionState(m, m, 1L))
    }
    (closed.result(), st)
  }

  /** Custom keyed state: emit a session record when a user's next
    * event comes more than `gapMinutes` after the last. This is the
    * `flatMapGroupsWithState` path with no timeout, so a bounded
    * replay closes sessions on observed gaps only and each user's last
    * session stays open in state.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .select(col("user_id"), eventMs.as("ms"))
      .as[SessionInput]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) =>
          val (closed, open) = sessionStep(user, state.getOption, rows.map(_.ms), gapMs)
          open.foreach(state.update)
          closed.iterator
      }
  }

  case class SessionInputEt(user_id: Long, ms: Long,
                            event_time: java.sql.Timestamp)

  /** The event-time sessionizers' keyed input: the watermark column
    * rides into the keyed rows, so the engine's late filter drops rows
    * older than the checkpointed watermark before they reach the state
    * step.
    */
  private def eventTimeSessionInput(events: DataFrame, watermark: String)
      : KeyValueGroupedDataset[Long, SessionInputEt] = {
    val spark = events.sparkSession
    import spark.implicits._
    watermarked(events, watermark)
      .select(col("user_id"), eventMs.as("ms"), col("event_time"))
      .as[SessionInputEt]
      .groupByKey(_.user_id)
  }

  /** [[sessionize]] with EVENT-TIME timeouts: sessions also close
    * when the WATERMARK passes their last event + gap — the correct
    * idle-flush for a replayable stream (processing-time timeouts
    * depend on wall clock; event-time ones are a function of the
    * data). Every state update re-arms `setTimeoutTimestamp(last +
    * gap)`, so state is bounded by the watermark horizon, the 100 TB
    * requirement for keyed state. Closed-session content is
    * deterministic under a staged replay even though emission TIMING
    * is not: a session past its gap is emitted either by its timeout
    * firing or by the gap rule breaking at the next arrival — same
    * record either way ([[StreamingSessionSpec]] pins the semantics,
    * `streamed_sessions` hash-gates them).
    */
  def sessionizeEventTime(events: DataFrame, gapMinutes: Int = 30,
                          watermark: String = WatermarkDelay): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    eventTimeSessionInput(events, watermark)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[SessionInputEt], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // timeout invocations carry no rows: flush and drop the state
            val st = state.get
            state.remove()
            Iterator.single(st.close(user))
          } else {
            val (closed, open) = sessionStep(user, state.getOption, rows.map(_.ms), gapMs)
            open.foreach { st =>
              state.update(st)
              // processed rows are >= the watermark, so last + gap is
              // strictly ahead of it — always a legal timeout timestamp
              state.setTimeoutTimestamp(st.lastMs + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** [[sessionizeEventTime]] into an append-mode parquet sink. */
  def writeSessionized(events: DataFrame, outDir: String,
                       checkpointDir: String,
                       gapMinutes: Int = 30): DataStreamWriter[Row] =
    appendParquet(sessionizeEventTime(events, gapMinutes).toDF(), outDir, checkpointDir)

  /** [[sessionizeEventTime]]'s state machine on Spark 4's
    * `transformWithState` operator (the StatefulProcessor API that
    * supersedes `flatMapGroupsWithState`): explicit named
    * `ValueState` plus EXPLICIT event-time timers — each batch
    * deletes the `last + gap` timer its stored state armed and arms
    * the new state's, and an expired timer only flushes if it still
    * matches the live state (a stale timer that raced an in-batch
    * update is ignored).
    * Runs on the RocksDB state store (the operator requires it; also
    * the right store for 100 TB keyed state — changelog-checkpointed,
    * not heap-bound). Output contract is IDENTICAL to
    * [[sessionizeEventTime]]: `streamed_sessions_tws` is gated by the
    * same oracle text as `streamed_sessions`.
    */
  class SessionStatefulProcessor(gapMs: Long)
      extends StatefulProcessor[Long, SessionInputEt, SessionOut] {
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SessionInputEt],
                                 timerValues: TimerValues): Iterator[SessionOut] = {
      val stored = if (state.exists()) Some(state.get()) else None
      // only the stored state armed a timer; the step's own states live in this call
      stored.foreach(st => getHandle.deleteTimer(st.lastMs + gapMs))
      val (closed, open) = sessionStep(key, stored, rows.map(_.ms), gapMs)
      open.foreach { st =>
        state.update(st)
        getHandle.registerTimer(st.lastMs + gapMs)
      }
      closed.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (state.exists()) {
        val st = state.get()
        if (expired.getExpiryTimeInMs() >= st.lastMs + gapMs) {
          state.clear()
          return Iterator.single(st.close(key))
        }
      }
      Iterator.empty
    }
  }

  /** [[sessionizeEventTime]] re-expressed on `transformWithState`. */
  def sessionizeTws(events: DataFrame, gapMinutes: Int = 30,
                    watermark: String = WatermarkDelay): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    eventTimeSessionInput(events, watermark)
      .transformWithState(new SessionStatefulProcessor(gapMinutes * 60L * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[sessionizeTws]] into an append-mode parquet sink; run it
    * inside [[withRocksDbStateStore]]. */
  def writeSessionizedTws(events: DataFrame, outDir: String,
                          checkpointDir: String): DataStreamWriter[Row] =
    appendParquet(sessionizeTws(events).toDF(), outDir, checkpointDir)

  /** `body` with the RocksDB state store provider, which
    * `transformWithState` requires; the previous provider conf is
    * restored after.
    */
  private[graft] def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }

  /** Write-once layout for `streamed_sessions_tws`: the SAME
    * two-phase staged replay as [[streamedSessionLayout]], through
    * [[writeSessionizedTws]] on the RocksDB state store.
    */
  def streamedSessionTwsLayout(spark: SparkSession, sfDir: String): String =
    streamedLayout("sessiontws", sfDir, "events") { path =>
      val ev = graft.Tables.events(spark, sfDir)
      withRocksDbStateStore(spark)(twoPhaseReplay(spark, path, ev.where(!straggler),
        ev.where(straggler))(writeSessionizedTws(_, _, _)))
    }

  /** Write-once SESSION-GATED layout: [[sessionizeEventTime]] run
    * through the same two-phase staged replay as
    * [[streamedWatermarkLayout]] (on-time bulk, then the straggler
    * slice from the same checkpoint). The sink holds exactly the
    * sessions CLOSED by the end of run 2 — by an observed gap or by
    * the watermark timeout — while sessions still inside the horizon
    * are withheld; the oracle recomputes that set from the original
    * events table: phase-1 islands, the junction merge of surviving
    * phase-2 rows into each user's open tail session, and both
    * timeout cuts. Keyed state under checkpoint restart is thereby
    * hash-gated end to end.
    */
  def streamedSessionLayout(spark: SparkSession, sfDir: String): String =
    streamedLayout("sessionsink", sfDir, "events") { path =>
      val ev = graft.Tables.events(spark, sfDir)
      twoPhaseReplay(spark, path, ev.where(!straggler), ev.where(straggler))(
        writeSessionized(_, _, _))
    }

  /** Continuous ingestion into the date-partitioned layout: append
    * each micro-batch under `day=YYYY-MM-DD/` directories — the
    * EXACT layout [[graft.sources.Partitioning]]'s batch readers
    * prune ([[graft.sources.Partitioning.eventsPartitionPruned]]
    * statically, [[graft.sources.Partitioning.eventsDppJoin]] via
    * DPP). The day is the events clock's day key
    * ([[graft.Tables.eventDay]]), the one the batch writer and the
    * pruning readers use, so a pipeline can tail a live
    * event log into the lake and the day's directory closes itself:
    * at 100 TB the streaming sink IS the partitioned table's writer,
    * and exactly-once comes from the checkpoint + the parquet sink's
    * transactional file manifest (_spark_metadata).
    */
  def writeEventsPartitionedByDay(events: DataFrame, outDir: String,
                                  checkpointDir: String): DataStreamWriter[Row] =
    appendParquet(events.withColumn("day", eventDay), outDir, checkpointDir)
      .partitionBy("day")

  /** Write-once streamed day-partitioned events layout (round-10,
    * VERDICT item 8): run [[writeEventsPartitionedByDay]] to
    * termination ([[drain]]) over the fixture's events parquet — a real Structured Streaming micro-batch run,
    * checkpoint and all — landing the partitioned layout under the
    * fixture dir. The registry's `streamed_day_counts` reads this
    * back and is hash-compared against an oracle computed from the
    * ORIGINAL events table, so the streaming path itself (source →
    * sink manifest → partition layout) joins the correctness gate:
    * a lost or duplicated micro-batch reds the hash.
    */
  def streamedEventsLayout(spark: SparkSession, sfDir: String): String =
    streamedLayout("streamsink", sfDir, "events") { path =>
      drain(writeEventsPartitionedByDay(
        readEventsStream(spark, stageCopy(sfDir, path, "events")),
        path, s"$path/_checkpoint"))
    }

  /** Exactly-once-per-batch sink via `foreachBatch`: each micro-batch
    * lands as its own `batch_id=` directory with `mode(overwrite)`,
    * so the write is IDEMPOTENT — a batch replayed after a crash (or
    * a restart from the same checkpoint) overwrites its own
    * directory instead of appending duplicates. Paired with the
    * checkpoint's batch tracking this is the standard exactly-once
    * recipe for sinks without transactional commit; the spec proves
    * both leg (committed batches don't re-fire on restart; a forced
    * re-run of the same batch id leaves counts unchanged).
    */
  def writeEventsIdempotent(events: DataFrame, outDir: String,
                            checkpointDir: String): DataStreamWriter[Row] =
    eachBatch(events, checkpointDir) { (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
    }

  /** Watermark delay of the gated late-data layout
    * ([[streamedWatermarkLayout]]) — shared with the generated oracle
    * (ms constant) and the boundary-semantics spec.
    */
  val WatermarkDelay = "6 hours"
  val WatermarkDelayMs: Long = 6L * 3600 * 1000

  /** Tumbling hourly counts per event type in APPEND mode: a window's
    * row is emitted exactly once, when the watermark passes its end —
    * the finalize-and-forget contract a downstream consumer of a
    * *closed* hour wants (vs [[windowedCounts]]'s update-mode running
    * counts). Rows arriving after their window closed are DROPPED by
    * the watermark, which is what bounds state at 100 TB: state holds
    * only the (watermark horizon / window) open groups per type, no
    * matter how many hours the stream has ever seen.
    */
  def watermarkedHourlyCounts(events: DataFrame,
                              watermark: String = WatermarkDelay): DataFrame =
    watermarked(events, watermark)
      .groupBy(window(col("event_time"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("hour"), col("event_type"), col("n"))

  /** [[watermarkedHourlyCounts]] into an append-mode parquet sink. */
  def writeWatermarkedHourly(events: DataFrame, outDir: String,
                             checkpointDir: String): DataStreamWriter[Row] =
    appendParquet(watermarkedHourlyCounts(events), outDir, checkpointDir)

  /** Land `df` as exactly ONE parquet file at `dest` — the staging
    * step that makes a file-source run deterministic: with
    * `maxFilesPerTrigger=1` ([[readEventsStream]]), one staged file
    * is one micro-batch, so the watermark sequence across a staged
    * ingest replay is a function of the data alone.
    */
  private[graft] def stageSingleParquet(df: DataFrame,
                                        dest: java.nio.file.Path): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file staged under $tmp"))
    java.nio.file.Files.createDirectories(dest.getParent)
    java.nio.file.Files.move(part.toPath, dest)
    Fixtures.deleteTree(tmp)
  }

  /** [[dedupEventsWithinWatermark]] into an append-mode parquet sink
    * (kept rows are emitted in the batch they arrive — dedup needs no
    * window flush).
    */
  def writeDedupedEvents(events: DataFrame, outDir: String,
                         checkpointDir: String,
                         watermark: String = WatermarkDelay): DataStreamWriter[Row] =
    appendParquet(dedupEventsWithinWatermark(events, watermark)
      .select(col("event_id"), unix_millis(col("event_time")).as("ms")),
      outDir, checkpointDir)

  /** Write-once DEDUP-GATED event layout: the exactly-once front door
    * for an at-least-once upstream, under the same two-phase staged
    * replay as [[streamedWatermarkLayout]]. Phase 1 streams the
    * on-time bulk (`event_id % 5 != 0`); phase 2 resumes from the
    * checkpoint with the straggler slice (`event_id % 5 = 0`) UNION a
    * deliberate RE-SEND of already-delivered rows (`event_id % 5 != 0
    * && event_id % 7 == 3`, byte-identical replicas) — the duplicate
    * delivery a crashed producer actually produces. The final sink is
    * a pure function of the data and the split: phase-1 rows all land;
    * a phase-2 row lands iff it is on time (`ms ≥ WM₁`) and its id is
    * not already in live dedup state — so a re-send can only land if
    * the engine LOST state across the restart, and a straggler can
    * only land if the late filter failed (the oracle recomputes both
    * rules; `StreamingDedupSpec` pins them on a constructed fixture,
    * including the expired-state-but-late corner).
    */
  def streamedDedupLayout(spark: SparkSession, sfDir: String): String =
    streamedLayout("dedupsink", sfDir, "events") { path =>
      val ev = graft.Tables.events(spark, sfDir)
      twoPhaseReplay(spark, path, ev.where(!straggler),
        ev.where(straggler).unionByName(ev.where(!straggler &&
          pmod(col("event_id"), lit(7)) === 3)))(writeDedupedEvents(_, _, _))
    }

  /** Write-once WATERMARK-GATED hourly-count layout: a two-phase
    * staged ingest that makes Structured Streaming's late-data
    * semantics an oracle-checkable fact rather than a spec claim.
    *
    * Phase 1 stages the on-time bulk (`event_id % 5 != 0`) as one
    * file and runs [[writeWatermarkedHourly]] to termination: the
    * run's data batch aggregates it, the watermark advances to
    * `max(ts₁) − delay` (= WM₁), and the closing no-data batch emits
    * every window with `end ≤ WM₁`. Phase 2 stages the straggler
    * slice (`event_id % 5 = 0` — same ts distribution, so much of it
    * is now LATE) and resumes from the same checkpoint: the batch
    * runs under the CHECKPOINTED WM₁, so straggler rows whose window
    * end is `≤ WM₁` are dropped while the rest merge into open
    * state; the watermark then advances to `max(ts) − delay` (= WM₂)
    * and the closing batch emits windows with end in (WM₁, WM₂].
    *
    * The final sink is therefore a pure function of the data and the
    * two-phase split: windows ending ≤ WM₁ carry phase-1-only
    * counts, windows ending in (WM₁, WM₂] carry both phases, windows
    * ending after WM₂ are still open and absent. The registry's
    * `streamed_watermark_counts` reads this back against a DuckDB
    * oracle computing exactly that function from the original events
    * table — a dropped-when-it-shouldn't or kept-when-late row, a
    * lost micro-batch, or a watermark that failed to persist across
    * the restart all red the hash. (Boundary rule pinned in
    * [[StreamingWatermarkSpec]]: a window whose end equals the
    * watermark exactly is CLOSED — emitted by the closing batch and
    * late for arriving rows.)
    */
  def streamedWatermarkLayout(spark: SparkSession, sfDir: String): String =
    streamedLayout("wmsink", sfDir, "events") { path =>
      val ev = graft.Tables.events(spark, sfDir)
      twoPhaseReplay(spark, path, ev.where(!straggler), ev.where(straggler))(
        writeWatermarkedHourly(_, _, _))
    }

  // ---- streamed last-touch attribution ------------------------------

  case class AttrInput(event_id: Long, user_id: Long, event_type: String,
                       value: Double, ms: Long)
  case class ClickState(ms: Long, id: Long)
  case class AttrOut(purchase_id: Long, user_id: Long, value: Double,
                     click_id: Option[Long], gap_ms: Option[Long], src: String)

  /** Streaming last-touch attribution: per-user keyed state carries
    * the most recent click; each purchase is emitted AT ARRIVAL with
    * that click (or 'organic'). The streaming form of
    * [[graft.operators.EventsOps.attributionLastTouch]] — state is
    * one (ms, id) pair per user, constant size, and the output is a
    * pure append (no window flush, no retraction).
    */
  def streamedAttribution(events: DataFrame): Dataset[AttrOut] = {
    val spark = events.sparkSession
    import spark.implicits._

    def fn(userId: Long, rows: Iterator[AttrInput],
           state: GroupState[ClickState]): Iterator[AttrOut] = {
      val sorted = rows.toSeq.sortBy(r => (r.ms, r.event_id))
      var st = state.getOption.orNull
      val out = Seq.newBuilder[AttrOut]
      for (r <- sorted) {
        if (r.event_type == "click") {
          st = ClickState(r.ms, r.event_id)
        } else if (r.event_type == "purchase") {
          out += (if (st == null)
            AttrOut(r.event_id, userId, r.value, None, None, "organic")
          else
            AttrOut(r.event_id, userId, r.value, Some(st.id),
              Some(r.ms - st.ms), "click"))
        }
      }
      if (st != null) state.update(st)
      out.result().iterator
    }

    events
      .withColumn("ms", eventMs)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ms"))
      .as[AttrInput]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  def writeStreamedAttribution(events: DataFrame, outDir: String,
                               checkpointDir: String): DataStreamWriter[Row] =
    appendParquet(streamedAttribution(events).toDF(), outDir, checkpointDir)

  /** Write-once streamed-attribution layout: the event stream staged
    * in TWO TIME-SPLIT phases (ms below/above the fixture midpoint)
    * with a stream restart between them. Because the split is by
    * event time, each user's rows arrive in global event order, so
    * the sink must equal the batch attribution EXACTLY — and a click
    * in phase 1 attributing a purchase in phase 2 proves the keyed
    * state survived the checkpoint restart. Gated by the SAME oracle
    * as `attribution_last_touch`.
    */
  def streamedAttributionLayout(spark: SparkSession, sfDir: String): String =
    streamedLayout("attrsink", sfDir, "events") { path =>
      val ev = graft.Tables.events(spark, sfDir)
      val Array(lo, hi) = ev
        .agg(min(eventMs), max(eventMs))
        .collect().map(r => Array(r.getLong(0), r.getLong(1))).head
      val mid = lo + (hi - lo) / 2
      twoPhaseReplay(spark, path, ev.where(eventMs < mid),
        ev.where(eventMs >= mid))(writeStreamedAttribution(_, _, _))
    }
}
