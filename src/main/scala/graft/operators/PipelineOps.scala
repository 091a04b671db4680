package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus-preparation pipelines: the composition layer a
  * training-data run actually executes — quality gate, language
  * consistency, dedup, split assignment — chained as ONE declarative
  * plan so Catalyst sees the whole DAG (filters push into the scan,
  * per-doc stages fuse into a single projection, and only the dedup
  * aggregation shuffles).
  */
object PipelineOps {

  /** Cleaning pipeline over the documents corpus:
    *
    *   1. tokenize (row-local);
    *   2. quality gate: >= `minTokens` tokens and punctuation ratio
    *      <= `maxPunct` (row-local — fuses with 1);
    *   3. language consistency: the stopword-profile language guess
    *      ([[TextAnalysisOps.langId]]'s argmax) must agree with the
    *      labeled language (row-local);
    *   4. exact dedup: keep the smallest doc_id per md5(lower(text))
    *      group (the pipeline's ONLY shuffle, on the digest key).
    *
    * Emits the surviving documents. At 100 TB stages 1-3 are a single
    * map over the scan discarding most of the corpus before the one
    * exchange — filter-before-shuffle is the whole point of running
    * the gate as one plan.
    */
  def cleanCorpus(docs: DataFrame, minTokens: Int = 5,
                  maxPunct: Double = 0.20): DataFrame = {
    // native tokenizer on the gate's hot path (HOF tokenize is
    // interpreted per element; the native expression is a byte loop —
    // output-equivalence is asserted by TextFunctionsSpec)
    val ws = graft.functions.NativeText.tokens(col("text"))
    val langs = TextAnalysisOps.StopwordsByLang.map(_._1)
    // language argmax as UNCONDITIONAL array ops — first index of the
    // maximum over the lang-ordered hit array is exactly langId's
    // first-wins pairwise >= chain, but unlike a CASE chain every
    // subtree here is evaluated unconditionally, so whole-stage
    // codegen's subexpression elimination computes the token array
    // ONCE per row instead of once per branch comparison (measured
    // ~5x on this query at sf0.1)
    val hitsArr = array(TextAnalysisOps.StopwordsByLang.map { case (_, stops) =>
      size(filter(col("ws"), w => w.isin(stops.map(x => x: Any): _*)))
    }: _*)
    val pred = element_at(
      array(langs.map(lit): _*),
      array_position(hitsArr, array_max(hitsArr)).cast("int"))

    val gated = docs
      .withColumn("ws", ws)
      .withColumn("n_tokens", size(col("ws")).cast("long"))
      .withColumn("punct_ratio",
        size(regexp_extract_all(lower(col("text")),
          lit("[^a-z0-9 \\t\\n\\r\\f]"), lit(0))).cast("double") / length(col("text")))
      .where(col("n_tokens") >= minTokens && col("punct_ratio") <= maxPunct)
      .where(pred === col("lang"))

    gated
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        md5(lower(col("text"))).as("fp"))
      .groupBy("fp")
      .agg(min_by(struct(col("doc_id"), col("lang"), col("n_tokens")), col("doc_id")).as("keep"),
        count(lit(1)).as("n_copies"))
      .select(col("keep.doc_id").as("doc_id"), col("keep.lang").as("lang"),
        col("keep.n_tokens").as("n_tokens"), col("n_copies"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minOverlap` distinct word `n`-gram shingles with any probe
    * (benchmark) document. The probe side is a FIXED benchmark set —
    * genuinely bounded, so it broadcasts (the hint is size-safe in a
    * way corpus-proportional hints are not) and the corpus is scanned
    * once: shingle-explode, hash-join on the shingle, count shared
    * shingles per (corpus, probe) pair. The standard pre-training
    * train/test-overlap sweep at 100 TB.
    */
  def contaminationCheck(docs: DataFrame, probeMaxId: Long = ProbeMaxId,
                         n: Int = 8, minOverlap: Long = 3): DataFrame =
    contaminationHits(docs, probeMaxId, n, minOverlap)
      .orderBy("corpus_id", "probe_id")

  /** The unsorted (corpus_id, probe_id, overlap) hit set behind
    * [[contaminationCheck]] — composition-friendly: downstream
    * consumers ([[decontaminate]], [[cleanCorpus2]]) shouldn't carry
    * the report query's presentation sort into their plans.
    */
  private def contaminationHits(docs: DataFrame, probeMaxId: Long,
                                n: Int, minOverlap: Long): DataFrame = {
    def shingled(df: DataFrame) = df.select(col("doc_id"),
      explode(array_distinct(graft.functions.NativeText.wordNgrams(
        graft.functions.NativeText.tokens(col("text")), n))).as("s"))
    val probes = shingled(docs.where(col("doc_id") < probeMaxId))
      .select(col("doc_id").as("probe_id"), col("s"))
    val corpus = shingled(docs.where(col("doc_id") >= probeMaxId))
      .select(col("doc_id").as("corpus_id"), col("s"))
    corpus.join(broadcast(probes), Seq("s"))
      .groupBy("corpus_id", "probe_id")
      .agg(count(lit(1)).as("overlap"))
      .where(col("overlap") >= minOverlap)
  }

  /** Corpus docs surviving the benchmark-overlap drop, full columns —
    * the shared head of [[decontaminate]] and [[cleanCorpus2]]. */
  private def decontaminatedDocs(docs: DataFrame, probeMaxId: Long,
                                 n: Int, minOverlap: Long): DataFrame = {
    val flagged = contaminationHits(docs, probeMaxId, n, minOverlap)
      .select(col("corpus_id").as("doc_id")).distinct()
    docs.where(col("doc_id") >= probeMaxId)
      .join(flagged, Seq("doc_id"), "left_anti")
  }

  /** The decontaminated corpus itself — [[contaminationCheck]] only
    * reports hits. Every corpus doc sharing >= `minOverlap` distinct
    * 8-gram shingles with ANY probe (benchmark) doc is dropped; the
    * survivors keep their identifying columns, ready to feed the next
    * pipeline stage. Same broadcast-probe shape as the check (the
    * probe side is the bounded benchmark set, never the corpus), plus
    * one left-anti join on doc_id — both corpus-partitioned, no new
    * scale hazard.
    */
  def decontaminate(docs: DataFrame, probeMaxId: Long = ProbeMaxId,
                    n: Int = 8, minOverlap: Long = 3): DataFrame =
    decontaminatedDocs(docs, probeMaxId, n, minOverlap)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  /** The composed cleaning run, round-12 edition — the new stages
    * fused into ONE plan the optimizer sees whole: benchmark
    * decontamination (drop corpus docs overlapping the probe set),
    * substring EXCISION over the survivors (run ownership and doc
    * frequency computed post-drop, on the corpus that actually
    * ships), a minimum surviving-length gate, and exact dedup on the
    * CLEANED text — docs that become identical only after excision
    * collapse here, which per-stage materialization would need an
    * extra pass to notice. Output: one row per surviving distinct
    * cleaned text (min-id keeper, copy count, fingerprint).
    */
  // r21 A/B, REVERTED: materializing the decontaminated survivors
  // once through Checkpoints.scratchParquet (substringExcise
  // references its input three times) measured 10.1–14.4 s vs the
  // lazy 5.0–6.5 s baseline. The event log shows why: the pipeline's
  // cost is the EXCISION's own per-position CPU (run-text generation
  // + rebuild aggregates), not the decontamination subtree — the
  // standalone substring_excise row only looks cheap because the
  // bench's count() action prunes its rebuild subtree, while the
  // groupBy(md5(clean_text)) here cannot be pruned. The write bought
  // a 2.9 s materialization job and removed nothing. Spreading the
  // per-position CPU with a corpus repartition was rejected without
  // an A/B: it moves the full document text through an exchange —
  // linear extra shuffle bytes at 100 TB for a local-parallelism win.
  def cleanCorpus2(docs: DataFrame, minKept: Long = 5,
                   probeMaxId: Long = ProbeMaxId): DataFrame =
    DedupOps.substringExcise(decontaminatedDocs(docs, probeMaxId, 8, 3))
      .where(col("kept_tokens") >= minKept)
      .select(col("doc_id"), md5(col("clean_text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("fp"))
      .orderBy("keep_id")

  /** [[dsirWeights]] parameters, shared with the generated oracle:
    * the hashed-feature bucket count and the additive-smoothing mass.
    * B = 64 keeps the feature model a broadcastable 64-row table at
    * ANY corpus size — the whole point of hashing the vocabulary.
    */
  val DsirBuckets = 64
  val DsirSmooth = 0.5

  /** The shared probe/target boundary (`doc_id < ProbeMaxId`) used by
    * both [[contaminationCheck]] and [[dsirWeights]]; the registry
    * oracles interpolate THIS constant, so a caller overriding the
    * default knowingly steps outside the oracle-gated configuration.
    */
  val ProbeMaxId = 20L

  /** DSIR importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023):
    * score every raw-corpus document by how target-like its hashed
    * unigram features are — `log w(doc) = Σ_tokens ln(p_target(b) /
    * p_raw(b))`, with `b = hash(word) mod B` and both distributions
    * additive-smoothed. Sampling ∝ w resamples the raw corpus toward
    * the target domain; here the target is the fixed probe set
    * (doc_id < `probeMaxId`, the [[contaminationCheck]] convention)
    * and the raw side is everything else.
    *
    * Scale shape: one (doc, bucket) map-side-combinable aggregate over
    * the counting kernel's per-document rows; the two feature distributions are
    * B-row aggregates of that table; the log-ratio model (B rows,
    * corpus-size-independent) broadcast-joins back onto the per-doc
    * frequencies. No vocabulary-sized state anywhere — hashing is
    * what makes the model bounded at 100 TB. The per-doc sum folds
    * over the bucket-SORTED contribution list (the [[TextAnalysisOps
    * .tokenEntropy]] discipline) so FP addition order is canonical on
    * both engines, then det4-rounds: this weight RANKS documents, so
    * a one-ULP cross-engine divergence would flip a resampled row.
    */
  def dsirWeights(docs: DataFrame, probeMaxId: Long = ProbeMaxId): DataFrame = {
    val b = pmod(
      conv(substring(md5(col("word")), 1, 15), 16, 10).cast("long"),
      lit(DsirBuckets.toLong))
    // collapse word rows to per-(doc, bucket) frequencies FIRST: the
    // corpus pass then feeds exactly ONE map-side-combinable
    // aggregate, and every other consumer (target dist, raw dist,
    // totals, per-doc tf) derives from this ≤ B-rows-per-doc table.
    // Before round 11 the token rows were referenced 4x with distinct
    // shapes — the genuine multi-consumer duplication ReuseExchange
    // cannot unify (measured: 1.9 → ~1.2 s at sf0.1) — and at 100 TB
    // the materialized table is bounded by docs × B, not token count.
    val tfAll = Checkpoints.truncate(WordCountOps.tokenCounts(docs, Seq(col("doc_id")))
      .groupBy(col("doc_id"), b.as("b")).agg(sum(col("cnt")).as("tf")))
    def dist(side: DataFrame, cname: String) =
      side.groupBy("b").agg(sum(col("tf")).as(cname))
    val target = dist(tfAll.where(col("doc_id") < probeMaxId), "ct")
    val raw = dist(tfAll.where(col("doc_id") >= probeMaxId), "cr")
    // B-row model: every bucket present (smoothing handles empties),
    // totals ride a 1-row cross join — all model-sized
    val spine = docs.sparkSession.range(DsirBuckets).select(col("id").as("b"))
    val totals = tfAll
      .agg(sum(when(col("doc_id") < probeMaxId, col("tf")).otherwise(0L)).as("tt"),
        sum(when(col("doc_id") >= probeMaxId, col("tf")).otherwise(0L)).as("tr"))
    val model = spine
      .join(target, Seq("b"), "left").join(raw, Seq("b"), "left")
      .crossJoin(totals)
      .select(col("b"),
        log(((coalesce(col("ct"), lit(0L)).cast("double") + lit(DsirSmooth)) /
          (col("tt").cast("double") + lit(DsirSmooth * DsirBuckets))) /
          ((coalesce(col("cr"), lit(0L)).cast("double") + lit(DsirSmooth)) /
            (col("tr").cast("double") + lit(DsirSmooth * DsirBuckets))))
          .as("lr"))
    val tf = tfAll.where(col("doc_id") >= probeMaxId)
    tf.join(broadcast(model), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        TextAnalysisOps.det4(aggregate(
          array_sort(collect_list(struct(col("b"), (col("tf").cast("double") * col("lr")).as("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c"))).as("dsir_logweight"))
      .orderBy("doc_id")
  }

  /** Unigram log-probability quality score — the cheap perplexity
    * proxy: score(doc) = mean over tokens of ln(count(word) / total
    * tokens). Skew-safe formulation: aggregate term frequencies
    * tf(doc_id, word) FIRST (the counting kernel's per-document rows,
    * merged by map-side partials before anything shuffles), then take
    * the corpus count as sum(tf) over the word partition of the tf
    * table. Same answer as the naive token-row window, but the word exchange
    * carries (doc, word) pairs instead of raw tokens, and the hottest
    * Zipf-head word's window group shrinks from its token count to
    * its document count — the difference between one reducer
    * serializing "the" and a bounded group at 100 TB. The per-doc
    * mean is the tf-weighted sum sum(tf·ln(wc/N))/sum(tf); the total
    * N is a one-row sum(tf) over the same tf table, cross-joined in. Low scores flag
    * gibberish / outlier-vocabulary documents.
    */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val tf = WordCountOps.summedCounts(docs, Seq(col("doc_id"))).withColumnRenamed("cnt", "tf")
    // the corpus total from the same tf table: no second scan
    val total = tf.agg(sum(col("tf")).cast("double").as("total_tokens"))
    tf
      .withColumn("wc", sum(col("tf"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("word"))))
      .crossJoin(total)
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        round(sum(col("tf").cast("double") *
            log(col("wc").cast("double") / col("total_tokens"))) /
          sum(col("tf")).cast("double"), 4)
          .as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Bigram-LM quality score — the conditional companion to
    * [[unigramLogprob]]: per document, the frequency-weighted mean of
    * `ln P(w2|w1)` with `P(w2|w1) = c(w1 w2) / c(w1 ·)` estimated
    * from the corpus itself. The corpus model lives at BIGRAM grain:
    * one aggregate builds `c(w1 w2)`, and the head totals `c(w1 ·)`
    * are a count window over that bigram-grain table — its partition
    * groups are a head word's DISTINCT continuations
    * (vocabulary-bounded), never its per-document rows. Windowing
    * the head total over the per-doc rows instead would buffer every
    * (doc, "the …") row in one window group — corpus-proportional
    * for stop-words, the exact hot-group shape the 100× rule
    * forbids. The per-doc frequencies then equi-join the model on
    * the bigram key (both sides hash-partitioned on `bg`; the model
    * side reuses its aggregate's exchange) — a corpus-sized but
    * uniformly-keyed join, not a broadcast of an unbounded
    * vocabulary. Documents under 2 tokens have no bigrams and drop
    * out identically in both engines.
    */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    val bf = docs
      .select(col("doc_id"),
        explode(graft.functions.NativeText.wordNgrams(
          graft.functions.NativeText.tokens(col("text")), 2)).as("bg"))
      .groupBy("doc_id", "bg")
      .agg(count(lit(1)).as("bf"))
    val w = org.apache.spark.sql.expressions.Window
    val model = bf
      .groupBy("bg")
      .agg(sum(col("bf")).as("cbg"))
      .withColumn("ch", sum(col("cbg"))
        .over(w.partitionBy(substring_index(col("bg"), " ", 1))))
    bf.join(model, "bg")
      .groupBy("doc_id")
      .agg(sum(col("bf")).as("n_bigrams"),
        round(sum(col("bf").cast("double") *
            log(col("cbg").cast("double") / col("ch").cast("double"))) /
          sum(col("bf")).cast("double"), 4)
          .as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Deterministic train/validation/test split: bucket =
    * md5(doc_id) mod 100, train < `trainPct`, val < `trainPct +
    * valPct`, else test. Hash-based (not random) so the assignment is
    * stable across runs, engines, and repartitioning — the property a
    * reproducible training pipeline needs. Row-local + one aggregate
    * exchange for the per-(lang, split) report.
    */
  def datasetSplit(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long"),
      lit(100L))
    docs
      .withColumn("split",
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val")
          .otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang", "split")
  }

  /** Sample size per source for the weighted priority sample. */
  val PrioK = 5
  /** 2^60 as an exactly-representable double — the scale factor
    * turning the 60-bit doc hash into a unit uniform. */
  val PrioHashScale = 1.152921504606846976e18
  /** Per-row ceiling on the estimator's max(w, τ) contribution:
    * 9·10¹² micro-scales to 9·10¹⁸ < 2⁶³−1, so the double→long
    * conversion is always in-range on BOTH engines (Spark saturates,
    * DuckDB raises — neither path is ever taken). Exactly
    * representable as a double. */
  val PrioEstimateCap = 9.0e12

  /** Deterministic priority of a document: `q = w / u` with weight
    * `w = n_chars` and `u = h / 2^60` for the 60-bit md5-prefix hash
    * `h` — i.e. `w * 2^60 / h`, two correctly-rounded IEEE ops in a
    * fixed order, so the value is bit-identical cross-engine (no
    * libm, no rand()). Larger q = more likely sampled, and heavier
    * documents get proportionally larger priorities — weighted
    * sampling without replacement (the priority-sampling scheme of
    * Duffield/Lund/Thorup, "Priority sampling for estimation of
    * arbitrary subset sums").
    */
  def samplePriority: Column =
    col("n_chars").cast("double") * lit(PrioHashScale) /
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long").cast("double")

  /** DuckDB mirror of [[samplePriority]] — same ops, same order. */
  val SamplePrioritySql: String =
    "CAST(n_chars AS DOUBLE) * 1152921504606846976 / " +
      "CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT AS DOUBLE)"

  /** Rank rows that already carry a `priority` column: descending
    * priority, doc_id tiebreak, per source. */
  private def rankByPriority(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("priority").desc, col("doc_id"))
    df.withColumn("rnk", row_number().over(w))
  }

  private def prioRanked(docs: DataFrame): DataFrame =
    rankByPriority(docs
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("priority", samplePriority))

  /** Per-source top-(K+1) priority STATE of a document set — the
    * K sample rows plus the (K+1)-th row the estimator's τ needs.
    * Schema: (source, doc_id, n_chars, priority).
    */
  def prioTopState(docs: DataFrame): DataFrame =
    prioRanked(docs).where(col("rnk") <= PrioK + 1).drop("rnk")

  /** Fold an arriving document batch into a top-(K+1) priority
    * state. Priorities are row-local (hash of doc_id × weight), and
    * "top-(K+1) per source" is associative and commutative over set
    * union — `top(top(A) ∪ top(B)) == top(A ∪ B)` — so ANY
    * micro-batch split of the corpus folds to the identical state,
    * which is what lets the streamed front door share the batch
    * query's oracle verbatim. At 100 TB each fold ranks
    * |state ∪ batch-topped| rows per source — the state side is
    * O(sources·K), never the corpus.
    *
    * The union is deduped on (source, doc_id) BEFORE ranking, which
    * makes the fold idempotent under foreachBatch's at-least-once
    * redelivery: a batch retried after its v+1 state committed (but
    * before the stream checkpoint did) folds the same documents
    * again, and without the dedup a redelivered row could occupy two
    * of the K+1 slots, displacing a distinct doc and corrupting τ.
    * Priorities are deterministic row-local functions of
    * (doc_id, n_chars), so duplicate rows are exact copies and the
    * dedup is exact — refolding any subset of already-folded rows is
    * a no-op on the state.
    */
  def prioFold(state: DataFrame, batch: DataFrame): DataFrame =
    rankByPriority(prioTopState(batch).unionByName(state)
        .dropDuplicates("source", "doc_id"))
      .where(col("rnk") <= PrioK + 1).drop("rnk")

  /** The sample read off a folded state (same rows as
    * [[prioritySample]] over the full corpus — one shared oracle). */
  def prioritySampleFromState(state: DataFrame): DataFrame =
    rankByPriority(state)
      .where(col("rnk") <= PrioK)
      .select(col("source"), col("rnk").as("smp_rank"),
        col("doc_id"), col("n_chars"), col("priority"))
      .orderBy("source", "smp_rank")

  /** Weighted sample WITHOUT replacement: the [[PrioK]] top-priority
    * documents per source. Deterministic (hash-derived priorities),
    * stable under repartitioning, and the heavy lifting is ONE
    * rank window that Spark's WindowGroupLimit rewrite trims to the
    * top rows per map partition BEFORE the exchange — at 100 TB each
    * task forwards at most K+1 rows per source, not its whole split
    * (the same physical shape as every top-k query in the registry).
    */
  def prioritySample(docs: DataFrame): DataFrame =
    prioRanked(docs)
      .where(col("rnk") <= PrioK)
      .select(col("source"), col("rnk").as("smp_rank"),
        col("doc_id"), col("n_chars"), col("priority"))
      .orderBy("source", "smp_rank")

  /** The point of priority sampling: an unbiased subset-sum estimate
    * from K rows per group. With τ = the (K+1)-th largest priority,
    * `Σ_{i in sample} max(w_i, τ)` estimates the group's true total
    * weight (exactly the group total when the group has <= K rows, in
    * which case τ is absent and the max degrades to w). The estimate
    * is reported in integer MICRO-units — `floor(max(w, τ)·10⁶ + ½)`
    * summed as longs — so the aggregate is order-independent and the
    * hash gate cannot flip on summation order (the repo-wide
    * double-sum ban). Each contribution is clamped to
    * [[PrioEstimateCap]] BEFORE scaling: a pathologically small hash
    * prefix makes a priority (and hence τ) ~w·2⁶⁰/h arbitrarily
    * large, and an unclamped max(w, τ)·10⁶ past 2⁶³ saturates in
    * Spark's double→long cast but RAISES in DuckDB's — the clamp
    * keeps the conversion in-range on both engines (it never binds
    * for realistic weights, so gated hashes are unchanged). Scale
    * shape: the same trimmed rank window, a K+1-row-per-source join,
    * and one partial-aggregated totals pass.
    */
  def prioritySampleEstimate(docs: DataFrame): DataFrame = {
    val ranked = prioRanked(docs).where(col("rnk") <= PrioK + 1)
    val tau = ranked.where(col("rnk") === PrioK + 1)
      .select(col("source"), col("priority").as("tau"))
    val est = ranked.where(col("rnk") <= PrioK)
      .join(tau, Seq("source"), "left")
      .withColumn("contrib_micro",
        floor(least(greatest(col("n_chars").cast("double"),
          coalesce(col("tau"), lit(0.0))), lit(PrioEstimateCap)) *
          lit(1000000.0) + lit(0.5))
          .cast("long"))
      .groupBy("source")
      .agg(sum(col("contrib_micro")).as("est_total_micro"))
    val totals = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("true_total"))
    totals.join(est, Seq("source"))
      .select(col("source"), col("n_docs"), col("true_total"),
        col("est_total_micro"))
      .orderBy("source")
  }

  /** Language-balancing stratified sample: cap every language at the
    * SMALLEST language's document count by hash-thresholding —
    * per-mille bucket = md5(doc_id) mod 1000, keep rows with bucket <
    * target·1000 / n_lang (integer division, so both engines compute
    * the identical threshold). Deterministic (no rand()), stable
    * under repartitioning, and the membership decision is ROW-LOCAL:
    * only the |langs|-row count table and the 1-row target are
    * broadcast, so at 100 TB the sample is one map over the scan plus
    * the final per-lang report aggregate. The hash threshold
    * approximates the cap (±hash noise) rather than hitting it
    * exactly — exact-k would need a per-lang total order, the same
    * wall exact ntile hits. Granularity: thresholds floor to per-mille
    * buckets, so a language over 1000× the target count samples zero
    * rows — widen the bucket modulus before using this on corpora
    * with a >1000:1 language imbalance.
    */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    // |langs|-row model state: collect once so the broadcast AND the
    // scalar target derive from the same pass (leaving both lazy
    // would re-scan the corpus for each — the centroid precedent)
    val countRows = counts.collect()
    val target = countRows.map(_.getLong(1)).min
    // Granularity guard: with per-mille buckets a language more than
    // 1000x the target floors to threshold 0 and silently samples
    // ZERO rows — fail loudly instead; the remediation is widening
    // the bucket modulus (and its oracle mirror) past the imbalance.
    val maxLang = countRows.map(_.getLong(1)).max
    require(maxLang <= 1000L * target,
      s"stratifiedSample per-mille buckets cannot express a " +
        s">1000:1 language imbalance (largest=$maxLang, target=$target); " +
        "widen the bucket modulus beyond 1000 before sampling this corpus")
    val countsDf = docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(countRows: _*), counts.schema)
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long"),
      lit(1000L))
    docs
      .join(broadcast(countsDf), "lang")
      .where(bucket < expr(s"(${target}L * 1000) div n_lang"))
      .groupBy("lang")
      .agg(max("n_lang").as("n_total"), count(lit(1)).as("n_sampled"))
      .orderBy("lang")
  }

  /** Temperature-weighted language sampling (the multilingual-corpus
    * balancing step: sample languages ∝ p^α instead of p, so
    * high-resource languages are downsampled and low-resource ones
    * kept — mC4/XLM-R style). With α = 0.5 the keep rate for lang l
    * is (n_min/n_l)^(1-α) = sqrt(n_min/n_l), normalized so the
    * smallest language keeps everything. Deterministic: membership is
    * a doc_id hash bucket under a per-language threshold, so the
    * sample is stable across runs, engines, and partitioning.
    * Threshold arithmetic is cross-engine exact: n_min/n_l is one
    * IEEE double divide of exact counts, sqrt is correctly rounded by
    * spec, floor(1e6·x) then matches bit-for-bit (pow with a general
    * α would NOT be — libm pow is not correctly rounded, which is why
    * α is fixed at 1/2 rather than a parameter). Same scale shape as
    * [[stratifiedSample]]: |langs|-row broadcast model, row-local
    * membership, one report exchange.
    */
  def temperatureSample(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val model = counts.withColumn("n_min", min("n_lang").over(w))
      .withColumn("threshold",
        floor(lit(1000000L) *
          sqrt(col("n_min").cast("double") / col("n_lang").cast("double"))))
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long"),
      lit(1000000L))
    docs
      .join(broadcast(model), "lang")
      .where(bucket < col("threshold"))
      .groupBy("lang")
      .agg(max("n_lang").as("n_total"), count(lit(1)).as("n_kept"),
        max("threshold").as("keep_per_million"))
      .orderBy("lang")
  }

  // docChunks / chunkPacking share these with their oracles and with
  // PipelineSpec's coverage/packing invariants.
  val ChunkSize = 64
  val ChunkStride = 48
  val PackCapacity = 256

  /** Context-window chunking — split every document into
    * [[ChunkSize]]-token windows advancing by [[ChunkStride]] tokens
    * (so consecutive chunks overlap by ChunkSize − ChunkStride: the
    * standard guard against splitting a passage across two training
    * examples with no shared context). Entirely row-local — one
    * native tokenize, a `sequence` of window starts, a posexplode,
    * and an array slice per chunk; at 100 TB this is map work and the
    * only exchange is the result sort. Every token is covered (stride
    * < size), every chunk is non-empty (starts stop at the token
    * count), and the final chunk is simply shorter instead of padded.
    */
  def docChunks(docs: DataFrame): DataFrame = {
    val ws = graft.functions.NativeText.tokens(col("text"))
    docs.select(col("doc_id"), ws.as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"), col("ws"),
        posexplode(sequence(lit(1), size(col("ws")), lit(ChunkStride))).as(Seq("pos", "start")))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        size(slice(col("ws"), col("start"), lit(ChunkSize))).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("ws"), col("start"), lit(ChunkSize))).as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Sequence packing — assign chunks to fixed [[PackCapacity]]-token
    * training bins by shelf packing: a running token total per
    * language (window prefix sum over the unique, deterministic
    * (doc_id, chunk_id) order) places each chunk in bin
    * `tokens_before div capacity`. One window exchange on `lang` and
    * one aggregate per (lang, bin) — the prefix sum parallelizes per
    * language; at 100 TB you would sub-shard the partition key
    * ((lang, shard) with shard = a hash of doc_id) because a single
    * language's global order is otherwise one task's sort, the same
    * scale-shape as exact ntile (documented weak-form pattern:
    * the banded companions). Bins fill past capacity only by the
    * tail of the chunk that crosses the boundary's start — shelf
    * semantics, matching how packed pretraining batches actually cut.
    */
  def chunkPacking(docs: DataFrame): DataFrame = {
    val ws = graft.functions.NativeText.tokens(col("text"))
    val chunks = docs.select(col("doc_id"), col("lang"), ws.as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"), col("lang"), col("ws"),
        posexplode(sequence(lit(1), size(col("ws")), lit(ChunkStride))).as(Seq("pos", "start")))
      .select(col("doc_id"), col("lang"), col("pos").cast("long").as("chunk_id"),
        size(slice(col("ws"), col("start"), lit(ChunkSize))).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("doc_id").asc, col("chunk_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin_id", expr(s"(cum - n_tokens) div $PackCapacity"))
      .groupBy("lang", "bin_id")
      .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("bin_tokens"))
      .orderBy("lang", "bin_id")
  }

  /** Gate constants for [[filterFunnel]] — the DuckDB oracle is
    * generated from these same values (the NtileBandSamplePct rule),
    * so engine and oracle cannot diverge on a threshold.
    */
  val FunnelMinTokens = 5
  val FunnelMaxPunct = 0.20
  val FunnelMinAvgWordLen = 2.0
  val FunnelMaxAvgWordLen = 12.0
  val FunnelMaxDupFrac = 0.25

  /** Filter-cascade funnel report — the observability companion to
    * [[cleanCorpus]]: apply the C4/Gopher-style quality gates IN
    * SEQUENCE and report, per rule, how many documents entered, were
    * dropped by that rule (first-failing-rule attribution), and
    * survived into the next stage. A training-data run reads this
    * before committing a filter config: a rule that drops 40% of the
    * corpus is a bug or a decision, never a silent side effect.
    *
    * Stages: (1) `min_tokens` >= [[FunnelMinTokens]]; (2) punctuation
    * ratio <= [[FunnelMaxPunct]]; (3) mean word length in
    * [[[FunnelMinAvgWordLen]], [[FunnelMaxAvgWordLen]]] (gibberish /
    * char-soup screen); (4) stopword-profile language guess agrees
    * with the label ([[cleanCorpus]]'s argmax, same unconditional
    * array form); (5) word-trigram duplicate fraction <=
    * [[FunnelMaxDupFrac]] ([[TextAnalysisOps.repetitionScore]]'s
    * statistic as a gate).
    *
    * Scale shape: every gate is row-local, so the whole cascade is
    * ONE projection over the scan followed by ONE all-to-one
    * aggregate of six counters — partial aggregation collapses each
    * task to a single row, the exchange moves #tasks rows, and the
    * 5-row report is built from the one-row aggregate with `stack`.
    * No shuffle of documents, ever, at any corpus size. Gates are
    * coalesced to false on both engines so a pathological row (empty
    * text) attributes at stage 1 instead of vanishing from the
    * bookkeeping.
    */
  def filterFunnel(docs: DataFrame): DataFrame = {
    val langs = TextAnalysisOps.StopwordsByLang.map(_._1)

    val flagged = docs
      .withColumn("ws", graft.functions.NativeText.tokens(col("text")))
      .withColumn("n", size(col("ws")).cast("long"))
    val hitsArr = array(TextAnalysisOps.StopwordsByLang.map { case (_, stops) =>
      size(filter(col("ws"), w => w.isin(stops.map(x => x: Any): _*)))
    }: _*)
    val pred = element_at(
      array(langs.map(lit): _*),
      array_position(hitsArr, array_max(hitsArr)).cast("int"))
    val punctRatio = size(regexp_extract_all(lower(col("text")),
      lit("[^a-z0-9 \\t\\n\\r\\f]"), lit(0))).cast("double") /
      nullif(length(col("text")).cast("double"), lit(0.0))
    val avgLen = aggregate(transform(col("ws"), w => length(w).cast("long")),
      lit(0L), (a, x) => a + x).cast("double") /
      nullif(col("n").cast("double"), lit(0.0))
    val grams = graft.functions.NativeText.wordNgrams(
      col("ws"), TextAnalysisOps.RepetitionNgramN)
    val dupFrac = lit(1.0) -
      size(array_distinct(grams)).cast("double") /
        nullif(size(grams).cast("double"), lit(0.0))

    val gated = flagged.select(
      coalesce(col("n") >= FunnelMinTokens, lit(false)).as("g1"),
      coalesce(punctRatio <= FunnelMaxPunct, lit(false)).as("g2"),
      coalesce(avgLen >= FunnelMinAvgWordLen &&
        avgLen <= FunnelMaxAvgWordLen, lit(false)).as("g3"),
      coalesce(pred === col("lang"), lit(false)).as("g4"),
      coalesce(dupFrac <= FunnelMaxDupFrac, lit(false)).as("g5"))

    def drops(conds: Column): Column = sum(when(conds, 1L).otherwise(0L))
    gated
      .agg(count(lit(1)).as("total"),
        drops(!col("g1")).as("d1"),
        drops(col("g1") && !col("g2")).as("d2"),
        drops(col("g1") && col("g2") && !col("g3")).as("d3"),
        drops(col("g1") && col("g2") && col("g3") && !col("g4")).as("d4"),
        drops(col("g1") && col("g2") && col("g3") && col("g4") && !col("g5")).as("d5"))
      .selectExpr(
        """stack(5,
          |  bigint(1), 'min_tokens',     total,                     d1, total - d1,
          |  bigint(2), 'max_punct',      total - d1,                d2, total - d1 - d2,
          |  bigint(3), 'word_len',       total - d1 - d2,           d3, total - d1 - d2 - d3,
          |  bigint(4), 'lang_agreement', total - d1 - d2 - d3,      d4, total - d1 - d2 - d3 - d4,
          |  bigint(5), 'repetition',     total - d1 - d2 - d3 - d4, d5, total - d1 - d2 - d3 - d4 - d5
          |) AS (stage, rule, docs_in, docs_dropped, docs_out)""".stripMargin)
      .orderBy("stage")
  }

  /** Per-source document cap: keep the top [[SourceCapN]] docs per
    * source. Shared by the Spark side and the generated oracle.
    */
  val SourceCapN = 5

  /** Per-source (per-domain) quality cap — the web-pipeline rule
    * "no single domain may contribute more than N documents, keep
    * its best". Quality key: stopword ratio (natural-prose signal)
    * desc, doc_id asc for a total per-source order. One shuffle on
    * `source`; the rank<=N filter rewrites to WindowGroupLimit
    * (pinned in PlanAuditSpec), so each map task pre-prunes to its
    * local top-N BEFORE the exchange — the shuffle carries
    * O(sources×N) rows per task, not the corpus, which is what makes
    * the cap safe against a 100M-doc megadomain.
    */
  def sourceCap(docs: DataFrame, n: Int = SourceCapN): DataFrame = {
    val ws = graft.functions.NativeText.tokens(col("text"))
    val nTok = size(ws).cast("long")
    // det4, not round: the quality key RANKS rows, and Spark's
    // round(double) can disagree with DuckDB's by one 4th decimal on
    // ratio values (shortest-rendering vs binary rounding) — which
    // here would keep a DIFFERENT doc, not misprint a digit
    val scored = docs
      .select(col("doc_id"), col("source"),
        TextAnalysisOps.det4(
          TextAnalysisOps.qfStopCount(ws).cast("double") / nTok).as("quality"))
      .where(nTok > 0)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= n)
      .orderBy("source", "rnk")
  }

  /** Seed string for [[datasetShuffle]]'s hash order — shared with
    * the generated oracle.
    */
  val ShuffleSeed = "shuf1:"

  /** Deterministic training-order shuffle with a SCALABLE global
    * rank — the canonical pre-training step (corpus order must be
    * pseudo-random, reproducible, and assigned without a
    * single-point sort). Order key: md5(seed + doc_id) — row-local,
    * rerun-stable. The global rank comes from range partitioning on
    * the key + within-partition sort + `zipWithIndex` (partition
    * sizes via one lightweight count job, then offsets are added
    * per partition) — a total order across partition boundaries BY
    * CONSTRUCTION, with no `row_number() OVER (ORDER BY …)` single
    * partition anywhere. This is the one registry query with a
    * genuine per-partition imperative step (the SURVEY §2 RDD
    * escape hatch, used for exactly the case it exists for:
    * distributed index assignment).
    */
  def datasetShuffle(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs
      .select(col("doc_id"),
        md5(concat(lit(ShuffleSeed), col("doc_id").cast("string"))).as("h"))
      .repartitionByRange(col("h"), col("doc_id"))
      .sortWithinPartitions("h", "doc_id")
    keyed.select(col("doc_id"), col("h")).as[(Long, String)]
      .rdd.zipWithIndex()
      .map { case ((docId, _), idx) => (docId, idx) }
      .toDF("doc_id", "shuffle_rank")
      .orderBy("shuffle_rank")
  }

  /** Deterministic curriculum interleave — a STRIDE SCHEDULE over
    * sources (the weighted-round-robin construction from stride
    * scheduling / WFQ): the r-th document of source `s` is assigned
    * virtual time `(2r − 1) / (2·√n_s)`, so sorting by `vtime`
    * interleaves sources at rates proportional to √n_s — the α = 0.5
    * temperature flattening ([[temperatureSample]]'s convention) that
    * keeps big sources from monopolizing any training window while
    * still showing them more often. The whole schedule is
    * deterministic: no seed, rerun-identical, resumable from any
    * vtime offset.
    *
    * Scale shape: per-source ranks come from the [[datasetShuffle]]
    * machinery — range-partition by (source, doc_id), within-partition
    * sort, `zipWithIndex`, then per-source offsets subtracted via a
    * |sources|-row broadcast agg-join. NO `row_number() OVER
    * (PARTITION BY source)` anywhere: that window would sort each
    * source in a single task, and a 30 TB source would be one task.
    * The indexed table is materialized once ([[Checkpoints.truncate]])
    * because the offset aggregate and the final join both read it —
    * and an RDD zipWithIndex re-run per consumer would double the
    * count job it embeds. At 100 TB the output contract is the SORT
    * ORDER (vtime, source, doc_id) — a range-partitioned sort — not a
    * dense global position, which would re-introduce the single-point
    * rank this construction exists to avoid.
    *
    * Cross-engine FP: vtime is `sqrt` (correctly rounded), an exact
    * ×2, and ONE IEEE division of exact integers — bit-identical on
    * both engines by the [[qualityLogreg]] discipline, so no det4
    * rounding is needed and schedule ORDER (the thing that matters)
    * can never diverge.
    */
  def mixtureSchedule(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val indexed = graft.operators.Checkpoints.truncate(
      docs.select(col("source"), col("doc_id"))
        .repartitionByRange(col("source"), col("doc_id"))
        .sortWithinPartitions("source", "doc_id")
        .as[(String, Long)]
        .rdd.zipWithIndex()
        .map { case ((src, id), gidx) => (src, id, gidx) }
        .toDF("source", "doc_id", "gidx"))
    // sources are contiguous in the global sort, so per-source rank =
    // gidx − min(gidx over source); the offset table is |sources| rows
    val offsets = indexed.groupBy("source")
      .agg(min("gidx").as("g0"), count(lit(1)).as("n_src"))
    indexed.join(broadcast(offsets), "source")
      .select(col("doc_id"), col("source"),
        (col("gidx") - col("g0") + 1L).as("src_rank"),
        (((col("gidx") - col("g0")) * 2L + 1L).cast("double") /
          (sqrt(col("n_src").cast("double")) * 2.0)).as("vtime"))
      .orderBy("vtime", "source", "doc_id")
  }

  /** Mixture reweighting (the DoReMi-flavored shape): per source,
    * the corpus share it actually holds vs a UNIFORM target mix, and
    * the sampling weight that moves the mixture there
    * (weight = target/actual = N / (k·n_src)). One |sources|-row
    * aggregate; the (N, k) totals are an unpartitioned WINDOW over
    * that model table — NOT an aggregate-and-join-back, which
    * duplicates the whole per-source subtree into a second corpus
    * scan (Catalyst does not unify the two aggregate subtrees; same
    * measured trap as q15's max). The window's single partition is
    * the model table itself (|sources| rows, always ≪ corpus).
    * Every division is a single int-ratio IEEE divide rounded on
    * both engines. At 100 TB the output is the sampler's side
    * input: a row-local hash threshold per source, the
    * temperature_sample pattern with these weights.
    */
  def sourceMixWeights(docs: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_total", sum(col("n_docs")).over(all))
      .withColumn("k_sources", count(lit(1)).over(all))
      .select(
        col("source"), col("n_docs"),
        // det6, not round: displayed cross-engine ratios (det4 doc)
        TextAnalysisOps.det6(col("n_docs").cast("double") / col("n_total"))
          .as("actual_share"),
        TextAnalysisOps.det6(lit(1.0) / col("k_sources")).as("target_share"),
        TextAnalysisOps.det6(col("n_total").cast("double") /
          (col("k_sources") * col("n_docs"))).as("mix_weight"))
      .orderBy("source")
  }

  /** Fixed weights for the logistic quality classifier — a
    * distilled stand-in for a fastText-style quality model: bias,
    * then the log2-staircase token-length feature, stopword_ratio,
    * punct_ratio, avg_word_len. Shared Spark/oracle so the dot
    * product is the same double sequence on both engines.
    */
  val LogregBias = -2.0
  val LogregWLogTokens = 0.6
  val LogregWStopword = 5.0
  val LogregWPunct = -8.0
  val LogregWAvgLen = 0.05

  /** Logistic-regression quality classifier, fixed weights: the
    * shape of every learned quality filter (fastText / logreg over
    * cheap features) with the model baked in as constants. Features
    * are the [[TextAnalysisOps.qualityScore]] signals — ratios of
    * exact integers (one correctly-rounded IEEE divide each) plus a
    * log2-STAIRCASE length feature (`length(bin(n))` =
    * floor(log2 n)+1, integer-exact on both engines) — each rounded
    * to 4 decimals FIRST so both engines dot identical bits; the
    * gated output is the linear logit (rounded) and the keep
    * decision — deliberately NOT the sigmoid, and deliberately no
    * libm ANYWHERE: exp/ln/log1p differ across engines at the ULP
    * level, and a 1-ULP feature shift near a .00005 boundary flips
    * the rounded logit (caught live: the log1p form failed the 10×
    * gate on exactly one row in 50k). Row-local, shuffle-free: at
    * 100 TB this is a pure map over the scan, and the keep flag
    * composes with the funnel/cap stages without an exchange.
    */
  def qualityLogreg(docs: DataFrame): DataFrame = {
    val ws = graft.functions.NativeText.tokens(col("text"))
    val n = size(ws).cast("long")
    // Features come from the SHARED qf* building blocks (one source
    // of truth with qualityScore/sourceCap), det4-rounded — round()
    // of a double diverges between engines on ratio values, and a
    // flipped 4th decimal here shifts the dot product by w·0.0001
    // and can flip the keep flag. Each det4 result is the double
    // nearest a 4-decimal value; casting to decimal(10,4) recovers
    // it exactly on both engines (the revenueExact pattern), and the
    // dot product then runs in EXACT decimal arithmetic — no double
    // rounding of the logit either (it lands on .00005 ties
    // constantly; caught live at both gates before this form).
    def f4(c: org.apache.spark.sql.Column) =
      TextAnalysisOps.det4(c).cast("decimal(10,4)")
    val fLog = length(bin(n)).cast("double").cast("decimal(10,4)")
    val fStop = f4(TextAnalysisOps.qfStopCount(ws).cast("double") / n)
    val fPunct = f4(TextAnalysisOps.qfPunctCount.cast("double") / length(col("text")))
    val fLen = f4(TextAnalysisOps.qfSumLen(ws).cast("double") / n)
    def w(x: Double) = lit(x).cast("decimal(6,2)")
    val logit = w(LogregBias) +
      w(LogregWLogTokens) * fLog + w(LogregWStopword) * fStop +
      w(LogregWPunct) * fPunct + w(LogregWAvgLen) * fLen
    docs
      .select(col("doc_id"), logit.cast("double").as("quality_logit"))
      .where(n > 0)
      .withColumn("keep", (col("quality_logit") > 0.0).cast("long"))
      .orderBy("doc_id")
  }
}
