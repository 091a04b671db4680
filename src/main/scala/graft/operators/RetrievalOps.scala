package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Retrieval scoring over the corpus: Okapi BM25 lexical ranking and
  * reciprocal-rank-fusion hybrid (lexical + embedding) search — the
  * query-side surface a training-data pipeline needs for corpus
  * exploration, contamination auditing, and RAG-style eval-set
  * construction.
  *
  * Scale shape: tf/df/doclen are the same one-exchange aggregates the
  * TF-IDF path uses ([[TextAnalysisOps.tfidfTopK]]); the query-term
  * set is selected IN-PLAN via a distributed top-k
  * (TakeOrderedAndProject, never a global sort) and broadcast to the
  * posting rows; every ranking cut is orderBy+limit (top-k heap per
  * partition + driver merge of K rows), so no stage materializes or
  * globally sorts a corpus-sized set. At 100 TB the postings shuffle
  * once on `word` and once on `doc_id` — both already needed by the
  * statistics — and the fused legs join on doc_id over K-row inputs.
  *
  * Reference scope note: the reference pipeline has no retrieval
  * surface; this extends the engine's training-data operators.
  */
object RetrievalOps {

  /** Okapi BM25 parameters (the standard Robertson/Lucene values). */
  val K1 = 1.2
  val B = 0.75

  /** The deterministic query: corpus words ranked [[QuerySkip]]+1 ..
    * [[QuerySkip]]+[[QueryTerms]] by collection frequency (total
    * occurrences desc, word asc) — mid-frequency terms, past the
    * stopword head, that are guaranteed to exist at every scale.
    * Shared with the oracle.
    */
  val QuerySkip = 5
  val QueryTerms = 5

  /** RRF dampening constant (the value from the original Cormack et
    * al. paper and every production implementation).
    */
  val RrfK = 60

  /** Candidate-list depth per leg for the hybrid fusion. */
  val LegDepth = 50

  /** Per-(doc, query-term) BM25 contributions with document length
    * and collection statistics attached: tf and dl are the postings
    * ([[postingsOf]]: one pass of the per-document counting kernel, dl
    * a window over the tf table's doc partition), df from a
    * word-partition aggregate whose top rows
    * also FORM the query (selected by a distributed top-k and
    * broadcast back to the postings), N and avgdl from a one-row
    * aggregate cross-joined in.
    */
  private def bm25Scored(docs: DataFrame): DataFrame = {
    val tf = postingsOf(docs)
    // ranking terms by COLLECTION frequency (sum of tf) rather than
    // bare document frequency is deliberate plan engineering: sum(tf)
    // CONSUMES the tf column, which keeps the upstream aggregate's
    // sum(cnt) alive, so this branch's shuffle canonicalizes
    // identically to the postings' tf exchange and AQE inserts a
    // ReusedExchange — the corpus is tokenized ONCE. Ranking by
    // count(*) lets column pruning rewrite the aggregate to a
    // keys-only distinct, the canonical forms diverge, and the whole
    // scan+count runs twice — verified in the executed plan
    // (Explain run:bm25_topk). df still rides along for the idf.
    val wordStats = tf.groupBy("word")
      .agg(sum(col("tf")).as("ctf"), count(lit(1)).as("df"))
    // distributed top-k, then a (QuerySkip+QueryTerms)-row window
    val qcand = wordStats
      .orderBy(col("ctf").desc, col("word").asc)
      .limit(QuerySkip + QueryTerms)
    val qrankW = Window.orderBy(col("ctf").desc, col("word").asc)
    val query = qcand
      .withColumn("qrank", row_number().over(qrankW))
      .where(col("qrank") > QuerySkip)
      .select(col("word"), col("df"))
    val nAvg = tf
      .agg((sum(col("tf")) / countDistinct(col("doc_id"))).as("avgdl"))
      .crossJoin(docs.agg(count(lit(1)).cast("double").as("n_docs")))
    tf
      .join(broadcast(query), "word")
      .crossJoin(broadcast(nAvg))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(K1 + 1.0)) /
          (col("tf") + lit(K1) * (lit(1.0) - B + lit(B) * col("dl") / col("avgdl"))))
  }

  /** BM25 document scores against the deterministic query: one row
    * per scored document, descending. `n_hits` counts the query terms
    * present. Emitted ranking is a K-row cut (orderBy+limit), ranked
    * by the rounded score with doc_id as the total-order tiebreak.
    */
  def bm25TopK(docs: DataFrame, k: Int = 10): DataFrame = {
    val byDoc = bm25Scored(docs)
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("score_raw"), count(lit(1)).as("n_hits"))
    val top = byDoc
      .orderBy(round(col("score_raw"), 6).desc, col("doc_id").asc)
      .limit(k)
    val rnkW = Window.orderBy(round(col("score_raw"), 6).desc, col("doc_id").asc)
    top
      .withColumn("rnk", row_number().over(rnkW).cast("long"))
      .select(col("doc_id"), col("rnk"), col("n_hits"),
        round(col("score_raw"), 4).as("score"))
      .orderBy("rnk")
  }

  /** One ranked candidate leg: (doc_id, rank) for the top
    * [[LegDepth]] rows of `scored` by `(round(score,6) desc, doc_id)`
    * — an orderBy+limit top-k heap, then a row_number over the K
    * surviving rows only.
    */
  private def leg(scored: DataFrame, scoreCol: String, rankName: String): DataFrame = {
    val cut = scored
      .orderBy(round(col(scoreCol), 6).desc, col("doc_id").asc)
      .limit(LegDepth)
    val w = Window.orderBy(round(col(scoreCol), 6).desc, col("doc_id").asc)
    cut.withColumn(rankName, row_number().over(w).cast("long"))
      .select(col("doc_id"), col(rankName))
  }

  /** Hash-mod bucket count for the persisted postings layout: the
    * partition key is `pmod(xxhash64(word), WordBuckets)`, so a
    * probe for any fixed query-term set reads at most |terms|
    * bucket partitions however large the corpus grows.
    */
  val WordBuckets = 64

  /** Build the persisted postings index for `corpus` under `dir` —
    * the steady-state retrieval layout, sibling of the LSH band
    * index ([[DedupOps.writeLshIndex]]) and the IVF inverted lists
    * ([[SimilarityOps.ivfListsDir]]):
    *
    *  - `postings/` — (word, doc_id, tf, dl) partitioned by
    *    `word_bucket`, so a query's scan prunes to its terms'
    *    buckets (PartitionFilters, pinned in PlanAuditSpec);
    *  - `lexicon/` — (word, ctf, df, word_bucket), vocab-sized, the
    *    table query planning reads INSTEAD of the corpus;
    *  - `stats/` — one row (n_docs, avgdl).
    *
    * The lexicon and stats are re-derived FROM the written postings
    * so they can never drift from what a probe will scan.
    */
  def writePostingsIndex(corpus: DataFrame, dir: String): Unit = {
    val spark = corpus.sparkSession
    val nDocs = corpus.count() // one long to the driver, stats row input
    postingsOf(corpus)
      .write.mode("overwrite").partitionBy("word_bucket")
      .parquet(s"$dir/postings")
    val written = spark.read.parquet(s"$dir/postings")
    written
      .groupBy("word")
      .agg(sum(col("tf")).as("ctf"), count(lit(1)).as("df"),
        // partition discovery reads the bucket back as int — store
        // the lexicon's copy as long so probes collect one fixed type
        first(col("word_bucket")).cast("long").as("word_bucket"))
      .write.mode("overwrite").parquet(s"$dir/lexicon")
    written
      // total_tf and n_token_docs are stored as EXACT longs so a
      // fold-in can advance them by addition and re-derive avgdl
      // bit-identically to a rebuild
      .agg(sum(col("tf")).as("total_tf"),
        countDistinct(col("doc_id")).as("n_token_docs"))
      .select(
        lit(nDocs).cast("double").as("n_docs"),
        coalesce(col("total_tf"), lit(0L)).as("total_tf"),
        col("n_token_docs"),
        (coalesce(col("total_tf"), lit(0L)).cast("double") /
          col("n_token_docs")).as("avgdl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** The per-batch postings a build or fold derives from a document
    * frame: (doc_id, word, tf, dl, word_bucket). dl is the batch
    * doc's own length — correct under fold because batches are
    * disjoint document sets, so no stored dl ever needs updating.
    */
  private def postingsOf(docs: DataFrame): DataFrame = {
    WordCountOps.summedCounts(docs, Seq(col("doc_id"))).withColumnRenamed("cnt", "tf")
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .withColumn("word_bucket", pmod(xxhash64(col("word")), lit(WordBuckets)))
  }

  /** Fold an arriving document batch into a persisted postings index
    * — the retrieval family's index-maintenance step, mirroring the
    * LSH/IVF/semantic fold-ins: the batch's postings are APPENDED
    * into their bucket partitions (never a rewrite), the lexicon
    * advances by a full-outer merge of the batch's per-word deltas
    * (new words appear, untouched words pass through), and the stats
    * row advances by exact long addition (total tf + token-doc
    * counts are stored precisely so the re-derived avgdl is
    * bit-identical to a full rebuild's). Lexicon and stats commit by
    * directory rename after a complete write
    * ([[DedupOps.publishTable]]) — a crash mid-fold leaves the old
    * tables live, never torn ones. Touches |batch| postings plus two
    * model/vocab-sized merges; the corpus is never re-tokenized.
    */
  def foldBatchIntoPostings(batch: DataFrame, indexDir: String): Unit = {
    val spark = batch.sparkSession
    // CAS the version slot FIRST ([[IndexVersion]] — the concurrent-
    // writer contract shared with the LSH fold): a racing fold fails
    // loudly before mutating instead of losing its lexicon/stats merge
    val v = IndexVersion.begin(indexDir)
    val nNew = batch.count()
    // the batch postings feed the append AND the lexicon deltas AND
    // the stats delta — materialize once (subtree duplication
    // discipline, the foldBatchIntoLshIndex precedent)
    val bp = Checkpoints.truncate(postingsOf(batch))
    bp.write.mode("append").partitionBy("word_bucket")
      .parquet(s"$indexDir/postings")
    val deltas = bp.groupBy("word")
      .agg(sum(col("tf")).as("d_ctf"), count(lit(1)).as("d_df"),
        first(col("word_bucket")).cast("long").as("d_bucket"))
    val lex = spark.read.parquet(s"$indexDir/lexicon")
    DedupOps.publishTable(
      lex.join(deltas, Seq("word"), "full_outer")
        .select(col("word"),
          (coalesce(col("ctf"), lit(0L)) + coalesce(col("d_ctf"), lit(0L))).as("ctf"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("d_df"), lit(0L))).as("df"),
          coalesce(col("word_bucket"), col("d_bucket")).as("word_bucket")),
      indexDir, "lexicon")
    val bStats = bp.agg(sum(col("tf")).as("d_tf"),
      countDistinct(col("doc_id")).as("d_token_docs"))
    DedupOps.publishTable(
      spark.read.parquet(s"$indexDir/stats").crossJoin(bStats)
        .select(
          (col("n_docs") + nNew.toDouble).as("n_docs"),
          (col("total_tf") + coalesce(col("d_tf"), lit(0L))).as("total_tf"),
          (col("n_token_docs") + col("d_token_docs")).as("n_token_docs"))
        .withColumn("avgdl",
          col("total_tf").cast("double") / col("n_token_docs")),
      indexDir, "stats")
    IndexVersion.commit(indexDir, v)
  }

  /** Fixture-keyed location of the postings index (dataset basename +
    * source fingerprint, [[graft.sources.Fixtures]] — regenerated
    * data can never hit a stale index), built on first use.
    */
  // fixture layouts here write into SUBdirectories, so Spark's own
  // _SUCCESS never lands at the top level — Fixtures.cleanBuild
  // wipes partial state, builds, and writes the markers itself (the
  // missing-marker form rebuilt on EVERY call and crashed re-marking
  // _DELETED — caught by the repeated-gate run)
  private def buildMarked(dir: String, markers: Seq[String])(build: => Unit): Unit =
    graft.sources.Fixtures.cleanBuild(dir, markers)(build)

  def postingsIndexDir(docs: DataFrame, sfDir: String): String =
    graft.sources.Fixtures.ensure("postings", sfDir,
      Seq(s"$sfDir/documents.parquet"), params = s"b$WordBuckets") { dir =>
      buildMarked(dir, Seq("_SUCCESS")) {
        writePostingsIndex(docs, dir)
      }
    }

  /** The steady-state fixture for [[incrementalBm25]]: the index is
    * BUILT from the even-doc_id corpus half and the odd half arrives
    * as a fold-in batch — the whole folded index is the fixture, so
    * repeated runs probe identical state. Batch-agnosticism (any
    * split folds to the same index) is spec-proven in
    * IndexMaintenanceSpec.
    */
  def postingsIncDir(docs: DataFrame, sfDir: String): String =
    graft.sources.Fixtures.ensure("postings_inc", sfDir,
      Seq(s"$sfDir/documents.parquet"), params = s"b$WordBuckets") { dir =>
      buildMarked(dir, Seq("_SUCCESS")) {
        writePostingsIndex(docs.where(pmod(col("doc_id"), lit(2)) === 0), dir)
        foldBatchIntoPostings(docs.where(pmod(col("doc_id"), lit(2)) === 1), dir)
      }
    }

  /** [[bm25TopK]] over the persisted postings layout — the
    * steady-state path: query planning reads the VOCAB-sized lexicon
    * (the same ctf-ranked top-k, never the corpus), the probe
    * collects its terms' bucket ids (MODEL-sized driver traffic — at
    * most [[QueryTerms]] longs, the [[SimilarityOps.annIvfIndexed]]
    * convention) and scans ONLY those postings partitions via an IN
    * filter on the partition column. No tokenize pass, no
    * corpus-wide aggregate — identical output to [[bm25TopK]]
    * because the stored tf/dl/df/avgdl are the same one-pass
    * aggregates the inline path computes.
    */
  def bm25Indexed(docs: DataFrame, sfDir: String, k: Int = 10): DataFrame =
    probePostings(docs.sparkSession, postingsIndexDir(docs, sfDir), k)

  /** [[bm25Indexed]] over the INCREMENTALLY-maintained layout
    * ([[postingsIncDir]]: built from half the corpus, the other half
    * folded in) — gated against the same full-corpus oracle as the
    * inline and rebuilt-index paths, so the gate itself proves
    * fold == rebuild end-to-end through the probe.
    */
  def incrementalBm25(docs: DataFrame, sfDir: String, k: Int = 10): DataFrame =
    probePostings(docs.sparkSession, postingsIncDir(docs, sfDir), k)

  /** Deterministic delete slice for the registered
    * `bm25_after_delete` query — shared with its oracle.
    */
  val DeleteMod = 7
  val DeleteRes = 2

  /** DELETE documents from a persisted postings index — the
    * retrieval family's take-down/right-to-erasure step, mirroring
    * the IVF/LSH tombstone legs: the ids land under `_tombstones`
    * (an append, never a rewrite), probes subtract the log with a
    * broadcast anti join, and [[compactPostings]] later removes the
    * posting rows physically. Until compaction the collection
    * statistics (df, avgdl, n_docs) deliberately stay STALE — the
    * standard deferred-delete posture of every production search
    * engine: a deleted doc can no longer be RETURNED, while scores
    * continue to use index-wide statistics until the next compaction
    * refreshes them.
    */
  def deleteDocsFromPostings(deletes: DataFrame, indexDir: String): Unit =
    deletes.select(col("doc_id"))
      .write.mode("append").parquet(s"$indexDir/_tombstones")

  /** Apply the tombstone log physically: rewrite the bucket
    * partitions minus the deleted docs, RECOMPUTE the lexicon and
    * stats from the surviving postings (this is the moment deferred
    * deletes reach the scoring statistics), and publish by directory
    * rename — the same crash-safe protocol as the IVF compaction,
    * and the same invariant: a compaction that dropped the log
    * without applying it would resurrect every deleted doc, so the
    * rewrite applies the log and the publish truncates it. After
    * compaction the index is indistinguishable from a fresh build on
    * the live corpus (spec-pinned, n_docs included — the advance
    * subtracts the distinct tombstone count, so it is exact whenever
    * tombstoned ids reference indexed documents, the contract every
    * delete path in this engine upholds).
    */
  def compactPostings(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = {
    val tomb = new java.io.File(indexDir, "_tombstones")
    val rows = spark.read.parquet(s"$indexDir/postings")
    val nDeleted =
      if (tomb.exists())
        spark.read.parquet(tomb.getPath).distinct().count()
      else 0L
    val kept =
      if (tomb.exists())
        rows.join(broadcast(spark.read.parquet(tomb.getPath)),
          Seq("doc_id"), "left_anti")
      else rows
    val tmp = new java.io.File(indexDir, "postings_compacting")
    kept
      .repartition(col("word_bucket"))
      .write.mode("overwrite").partitionBy("word_bucket").parquet(tmp.getPath)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    val live = new java.io.File(indexDir, "postings")
    rm(live)
    java.nio.file.Files.move(tmp.toPath, live.toPath)
    val written = spark.read.parquet(s"$indexDir/postings")
    val oldNDocs = spark.read.parquet(s"$indexDir/stats")
      .select("n_docs").head().getDouble(0)
    DedupOps.publishTable(
      written.groupBy("word")
        .agg(sum(col("tf")).as("ctf"), count(lit(1)).as("df"),
          first(col("word_bucket")).cast("long").as("word_bucket")),
      indexDir, "lexicon")
    DedupOps.publishTable(
      written
        .agg(sum(col("tf")).as("total_tf"),
          countDistinct(col("doc_id")).as("n_token_docs"))
        .select(
          lit(oldNDocs - nDeleted).as("n_docs"),
          coalesce(col("total_tf"), lit(0L)).as("total_tf"),
          col("n_token_docs"),
          (coalesce(col("total_tf"), lit(0L)).cast("double") /
            col("n_token_docs")).as("avgdl")),
      indexDir, "stats")
    if (tomb.exists()) { rm(tomb) }
  }

  /** Write-once tombstoned postings fixture for the registered
    * query: full-corpus build plus a [[deleteDocsFromPostings]] of
    * the deterministic delete slice. `_DELETED` marks the two-step
    * build complete (the IVF delete-leg convention).
    */
  def postingsDelDir(docs: DataFrame, sfDir: String): String =
    graft.sources.Fixtures.ensure("postings_del", sfDir,
      Seq(s"$sfDir/documents.parquet"), params = s"b$WordBuckets",
      validate = d => new java.io.File(d, "_DELETED").exists()) { dir =>
      buildMarked(dir, Seq("_SUCCESS", "_DELETED")) {
        writePostingsIndex(docs, dir)
        deleteDocsFromPostings(
          docs.where(pmod(col("doc_id"), lit(DeleteMod)) === DeleteRes), dir)
      }
    }

  /** BM25 over the tombstoned index: the shared probe with the
    * tombstone log subtracted from the scanned postings by a
    * broadcast anti join BEFORE scoring — a deleted document can
    * never be returned, while the postings on disk stay untouched
    * and the bucket partition pruning survives (the IN filter pushes
    * through the anti join's preserved side; pinned in
    * PlanAuditSpec). Scores keep the index-wide stale statistics
    * until compaction — exactly what the oracle computes (full-
    * corpus df/avgdl, ranking restricted to live docs).
    */
  def bm25AfterDelete(docs: DataFrame, sfDir: String, k: Int = 10): DataFrame =
    probePostings(docs.sparkSession, postingsDelDir(docs, sfDir), k,
      subtractTombstones = true)

  /** The shared probe: BM25 top-k served from a postings layout.
    * With `subtractTombstones` the `_tombstones` log is anti-joined
    * out of the pruned postings scan (broadcast — the log is
    * model-sized relative to the corpus).
    */
  def probePostings(spark: org.apache.spark.sql.SparkSession, dir: String,
      k: Int, subtractTombstones: Boolean = false): DataFrame = {
    val scored = postingsScores(spark, dir, subtractTombstones)
    val rnkW = Window.orderBy(round(col("score_raw"), 6).desc, col("doc_id").asc)
    scored
      .orderBy(round(col("score_raw"), 6).desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(rnkW).cast("long"))
      .select(col("doc_id"), col("rnk"), col("n_hits"),
        round(col("score_raw"), 4).as("score"))
      .orderBy("rnk")
  }

  /** The scoring half of the probe: per-document BM25 scores served
    * from a postings layout (no ranking cut) — shared by
    * [[probePostings]] and the indexed hybrid's lexical leg.
    */
  def postingsScores(spark: org.apache.spark.sql.SparkSession, dir: String,
      subtractTombstones: Boolean = false): DataFrame = {
    val lex = spark.read.parquet(s"$dir/lexicon")
    val stats = spark.read.parquet(s"$dir/stats")
    val qcand = lex
      .orderBy(col("ctf").desc, col("word").asc)
      .limit(QuerySkip + QueryTerms)
    val qrankW = Window.orderBy(col("ctf").desc, col("word").asc)
    val query = qcand
      .withColumn("qrank", row_number().over(qrankW))
      .where(col("qrank") > QuerySkip)
      .select(col("word"), col("df"), col("word_bucket"))
    val probedBuckets = query.select("word_bucket").distinct()
      .collect().map(_.getLong(0)) // ≤ QueryTerms values — model-sized
    val pruned = spark.read.parquet(s"$dir/postings")
      .where(col("word_bucket").isin(probedBuckets.toIndexedSeq: _*))
    val postings =
      if (subtractTombstones)
        pruned.join(
          broadcast(spark.read.parquet(s"$dir/_tombstones")),
          Seq("doc_id"), "left_anti")
      else pruned
    postings
      .join(broadcast(query.drop("word_bucket")), "word")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(K1 + 1.0)) /
          (col("tf") + lit(K1) * (lit(1.0) - B + lit(B) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("score_raw"), count(lit(1)).as("n_hits"))
  }

  /** Hybrid retrieval by reciprocal-rank fusion: the lexical leg is
    * the BM25 ranking against the deterministic term query; the
    * vector leg ranks documents by embedding cosine against the
    * designated probe vector (`vec_id = probeId`, broadcast as a
    * one-row cross join). Each leg keeps its top [[LegDepth]]
    * candidates; fusion is a full outer join of the two K-row lists
    * with `rrf = Σ 1/(RrfK + rank)` over the legs that returned the
    * doc (a fixed two-term expression, so the float sum order is
    * deterministic on both engines). Missing-leg ranks surface as 0.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, k: Int = 15,
      probeId: Long = 0L): DataFrame = {
    val lexScores = bm25Scored(docs)
      .groupBy("doc_id").agg(sum(col("contrib")).as("lex_score"))
    fuseLegs(leg(lexScores, "lex_score", "lex_rank"), emb, k, probeId)
  }

  /** [[hybridRrf]] with the lexical leg served from the PERSISTED
    * postings index — the steady-state hybrid: no query-time
    * tokenize, the lexical side reads |terms| bucket partitions, and
    * the fusion is the same K-row full-outer RRF. Gated against the
    * same oracle as the inline hybrid: the indexed leg's scores are
    * the same one-pass aggregates (the bm25_indexed gate's claim),
    * so the fused ranking must be identical.
    */
  def hybridRrfIndexed(docs: DataFrame, emb: DataFrame, sfDir: String,
      k: Int = 15, probeId: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    val lexScores = postingsScores(spark, postingsIndexDir(docs, sfDir))
      .select(col("doc_id"), col("score_raw").as("lex_score"))
    fuseLegs(leg(lexScores, "lex_score", "lex_rank"), emb, k, probeId)
  }

  /** The shared vector leg + RRF fusion half of the hybrids. */
  private def fuseLegs(lex: DataFrame, emb: DataFrame, k: Int,
      probeId: Long): DataFrame = {
    val probe = emb.where(col("vec_id") === probeId)
      .select(col("embedding").as("probe_vec"))
    val vecScores = emb.where(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        VectorFunctions.cosine(col("embedding"), col("probe_vec")).as("vec_score"))
    val vec = leg(vecScores, "vec_score", "vec_rank")

    val fused = lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf_raw",
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)))
    val rnkW = Window.orderBy(round(col("rrf_raw"), 6).desc, col("doc_id").asc)
    fused
      .orderBy(round(col("rrf_raw"), 6).desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(rnkW).cast("long"))
      .select(col("doc_id"), col("rnk"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        round(col("rrf_raw"), 4).as("rrf_score"))
      .orderBy("rnk")
  }
}
