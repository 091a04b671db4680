package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis operators for a training-data pipeline: token stats,
  * BPE-ish token counting, quality scoring, language-ID heuristic,
  * document fingerprinting, n-gram frequencies.
  *
  * Design rule: everything per-document is computed with array
  * higher-order functions on the row — *no shuffle at all* for
  * token_stats / quality / fingerprints. Only corpus-level frequency
  * queries (ngram_freq) aggregate across documents. At 100 TB the
  * per-doc family is embarrassingly parallel map work.
  */
object TextAnalysisOps {

  /** Per-language stopword lists for the language-ID heuristic.
    * Deterministic, tiny, and inlined into the plan as literals.
    */
  val StopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une"),
    "zh" -> Seq("de", "le", "he", "shi", "zai", "you", "wo"))

  val EnStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "to", "is", "it", "on", "for")

  /** Shared quality-feature building blocks — [[qualityScore]],
    * [[PipelineOps.qualityLogreg]] and [[PipelineOps.sourceCap]] all
    * derive from THESE columns, so the three surfaces cannot
    * silently desynchronize (their gates depend on the features
    * being the same expressions).
    */
  def qfStopCount(ws: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(filter(ws, w => w.isin(EnStopwords.map(x => x: Any): _*)))

  def qfPunctCount: org.apache.spark.sql.Column =
    size(regexp_extract_all(lower(col("text")),
      lit("[^a-z0-9 \\t\\n\\r\\f]"), lit(0)))

  def qfSumLen(ws: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(transform(ws, w => length(w).cast("long")),
      lit(0L), (a, x) => a + x)

  /** Cross-engine-deterministic 4-decimal rounding:
    * floor(x·10⁴ + 0.5)/10⁴ is pure IEEE arithmetic — bit-identical
    * on any engine — unlike round(double, 4), where Spark rounds the
    * SHORTEST decimal rendering (BigDecimal.valueOf) and DuckDB the
    * binary value, which disagree on values like 11/4000 (verified).
    * Used where a rounded feature feeds a RANKING or a THRESHOLD
    * (source_cap's quality key, quality_logreg's features) — a
    * one-ULP disagreement there flips a kept row, not a displayed
    * digit. The DuckDB mirror is [[Det4Sql]].
    */
  def det4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)

  /** DuckDB mirror of [[det4]]. */
  def det4Sql(expr: String): String =
    s"floor(($expr) * 10000.0 + 0.5) / 10000.0"

  /** 6-decimal sibling of [[det4]], for displayed cross-engine RATIOS
    * (q8 mkt_share, mixture shares): both engines compute the same
    * floor over the same IEEE product, where round() would hit the
    * Spark shortest-rendering vs DuckDB binary-rounding divergence on
    * a .0000005 boundary. */
  def det6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  /** DuckDB mirror of [[det6]]. */
  def det6Sql(expr: String): String =
    s"floor(($expr) * 1000000.0 + 0.5) / 1000000.0"

  /** Per-doc token statistics: count, average/max token length.
    * Computed row-local (size/aggregate over the token array) — the
    * plan is a single projection over the scan, no exchange.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val ws = graft.functions.NativeText.tokens(col("text"))
    val lens = transform(ws, w => length(w).cast("long"))
    val n = size(ws).cast("long")
    docs
      .select(
        col("doc_id"),
        n.as("n_tokens"),
        round(aggregate(lens, lit(0L), (a, x) => a + x).cast("double") / n, 4)
          .as("avg_token_len"),
        array_max(lens).as("max_token_len"))
      .where(col("n_tokens") > 0)
      .orderBy("doc_id")
  }

  /** Top-K pairs reported by [[bpeMergePairs]] — shared with the
    * generated oracle.
    */
  val BpeMergeTopK = 30

  /** One BPE training round: the adjacent character-pair frequencies
    * a byte-pair-encoding tokenizer would merge next. The corpus
    * collapses to its word-frequency table FIRST (one aggregate over
    * the counting kernel's partials — vocabulary-sized, not
    * corpus-sized), then each
    * DISTINCT word explodes into its adjacent char pairs weighted by
    * the word's corpus frequency. At 100 TB the pair explode runs
    * over the vocabulary (millions of rows), not the corpus
    * (trillions) — doing pair extraction before the word rollup
    * would be the scale bug. Top-K by (count desc, pair asc): a
    * total order, so the cut is deterministic at every SF.
    */
  def bpeMergePairs(docs: DataFrame, k: Int = BpeMergeTopK): DataFrame = {
    val wordFreq = WordCountOps.summedCounts(docs).withColumnRenamed("cnt", "wf")
      .where(length(col("word")) >= 2)
    wordFreq
      .select(col("wf"), explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("wf")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
  }

  /** Rounds of the multi-round BPE training loop — shared with the
    * generated (per-round unrolled) oracle.
    */
  val BpeTrainRounds = 8

  /** Multi-round BPE training (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units", 2016): the actual
    * merge-list learning loop, extending the single-round
    * [[bpeMergePairs]] census into a usable tokenizer-training
    * surface. Words are restricted to the alphanumeric class (the
    * pre-tokenizer's letter/digit runs) and held as delimited symbol
    * strings `(h)(e)(l)(l)(o)`; each round counts adjacent symbol
    * pairs weighted by word frequency, picks the most frequent pair
    * (count desc, then pair asc — a total order, so every round is
    * deterministic), and merges its occurrences LEFT-TO-RIGHT
    * NON-OVERLAPPING in every word via string `replace` — the
    * delimiters make a pair pattern `(x)(y)` unable to match across
    * symbol boundaries, and sequential replace gives exactly BPE's
    * greedy merge semantics (`(a)(a)(a)` merges once, not twice).
    *
    * Scale shape: the corpus collapses to its word-frequency table
    * ONCE (vocabulary-sized, not corpus-sized — materialized so the
    * per-round aggregates never rescan the corpus); each round is one
    * vocabulary-sized aggregate plus a ONE-ROW collect (the chosen
    * merge — model-sized by construction, like the kmeans centroid
    * collects) and a row-local replace. Output is the merge list
    * itself: (round, left_sym, right_sym, cnt) — the artifact a
    * tokenizer trainer ships.
    */
  def bpeTrainMerges(docs: DataFrame, rounds: Int = BpeTrainRounds): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, _) = bpeTrainLoop(docs, rounds)
    merges.toDF("round", "left_sym", "right_sym", "cnt").orderBy("round")
  }

  /** The shared BPE training loop: returns the learned merge list AND
    * the final symbolized word-frequency table (every word rewritten
    * by all `rounds` merges) — the artifact [[bpeVocab]] censuses.
    */
  private def bpeTrainLoop(docs: DataFrame, rounds: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val base = WordCountOps.summedCounts(docs)
      .where(length(col("word")) >= 2 && col("word").rlike("^[a-z0-9]+$"))
      .select(regexp_replace(col("word"), "(.)", "($1)").as("wstr"), col("cnt").as("wf"))
    var cur = Checkpoints.truncate(base)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (r <- 1 to rounds) {
      val best = cur
        .select(col("wf"),
          regexp_extract_all(col("wstr"), lit("\\(([^)]*)\\)"), lit(1)).as("syms"))
        .where(size(col("syms")) >= 2)
        .select(col("wf"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("x"),
            element_at(col("syms"), i + 1).as("y")))).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("wf")).as("cnt"))
        .orderBy(col("cnt").desc, col("x").asc, col("y").asc)
        .limit(1)
        .collect()
      if (best.nonEmpty) {
        val (x, y, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, x, y, cnt))
        cur = cur.select(
          replace(col("wstr"), lit(s"($x)($y)"), lit(s"($x$y)")).as("wstr"),
          col("wf"))
      }
    }
    (merges.toSeq, cur)
  }

  /** Top-K of the BPE vocabulary census — shared with the oracle. */
  val BpeVocabTopK = 40

  /** Tokenizer APPLICATION: encode the corpus with the merge list
    * [[bpeTrainMerges]] learns and report the resulting subword
    * vocabulary census — each (alphanumeric, len ≥ 2) word rewritten
    * by all trained merges, its final symbols exploded and weighted
    * by corpus word frequency, top-K by total occurrences. This is
    * the train → encode round trip a tokenizer surface owes: the
    * merge list is only correct if APPLYING it reproduces the
    * training fixpoint, which the census's independent oracle (the
    * same unrolled rounds, replayed in SQL) re-proves end to end.
    *
    * Scale shape: everything after the corpus's one word-frequency
    * aggregate is vocabulary-sized — the merge rewrites are row-local
    * `replace` calls on distinct words, the census explodes ≤
    * |word| symbols per DISTINCT word, and the top-K cut is a total
    * order (cnt desc, sym asc). Encoding the corpus at 100 TB costs
    * one groupBy(word) — the same rollup every other text-analysis
    * query starts from — never a per-occurrence merge scan.
    */
  def bpeVocab(docs: DataFrame, rounds: Int = BpeTrainRounds,
               k: Int = BpeVocabTopK): DataFrame = {
    val (_, finalWords) = bpeTrainLoop(docs, rounds)
    finalWords
      .select(col("wf"),
        explode(regexp_extract_all(col("wstr"), lit("\\(([^)]*)\\)"), lit(1))).as("sym"))
      .groupBy("sym").agg(sum(col("wf")).as("cnt"))
      .orderBy(col("cnt").desc, col("sym").asc)
      .limit(k)
  }

  /** Per-document ENCODE under the trained merges: each document's
    * (alphanumeric, len ≥ 2) word occurrences are looked up in the
    * final symbolized word table and their subword counts summed —
    * the per-doc token-budget accounting a training-data pipeline
    * runs after tokenizer training ([[bpeVocab]] is the corpus-grain
    * census of the same encode). The merge rewrites stay
    * vocabulary-sized; the per-doc leg is the counting kernel's
    * per-document (word, cnt) rows joined to the word table on its
    * natural key, each match weighted by its `cnt` — at 100 TB both
    * sides hash-partition on the word, and the word table is small
    * enough that AQE broadcasts it. Output: encodable word
    * occurrences and the subword total per doc (docs with no
    * encodable word keep a zero row — budget accounting must not
    * drop them).
    */
  def bpeEncodeDocs(docs: DataFrame, rounds: Int = BpeTrainRounds): DataFrame = {
    val (_, finalWords) = bpeTrainLoop(docs, rounds)
    val wordSyms = finalWords
      .select(
        regexp_replace(col("wstr"), "\\(([^)]*)\\)", "$1").as("word"),
        (size(regexp_extract_all(col("wstr"), lit("\\(([^)]*)\\)"), lit(1))))
          .cast("long").as("n_syms"))
    val occ = WordCountOps.tokenCounts(docs, Seq(col("doc_id")))
      .where(length(col("word")) >= 2 && col("word").rlike("^[a-z0-9]+$"))
    val perDoc = occ.join(wordSyms, Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_enc_words"), sum(col("n_syms") * col("cnt")).as("n_subwords"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_enc_words"), lit(0L)).as("n_enc_words"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"))
      .orderBy("doc_id")
  }

  /** BPE-ish subword token count: runs of letters, runs of digits, and
    * single non-alphanumeric marks (the classic pre-tokenizer regex).
    */
  def tokenCountBpe(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f]"), lit(0))).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Quality scoring: token count, stopword ratio, punctuation ratio,
    * average word length — the standard cheap text-quality signals.
    * Row-local, shuffle-free.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val ws = graft.functions.NativeText.tokens(col("text"))
    val n = size(ws).cast("long")
    val stop = qfStopCount(ws)
    val punct = qfPunctCount
    val sumLen = qfSumLen(ws)
    docs
      .select(
        col("doc_id"),
        n.as("n_tokens"),
        round(stop.cast("double") / n, 4).as("stopword_ratio"),
        round(punct.cast("double") / length(col("text")), 4).as("punct_ratio"),
        round(sumLen.cast("double") / n, 4).as("avg_word_len"))
      .where(col("n_tokens") > 0)
      .orderBy("doc_id")
  }

  /** [[gopherRules]] thresholds (Rae et al., "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", 2021, §A1.1
    * quality heuristics), shared with the generated oracle. The rules
    * that need document structure this corpus lacks (bullet-line and
    * ellipsis-line fractions — the fixture text is single-line) are
    * omitted rather than emitted as constants.
    */
  val GopherMinWords = 50
  val GopherMaxWords = 100000
  val GopherMinMeanLen = 3.0
  val GopherMaxMeanLen = 10.0
  val GopherMinAlphaRatio = 0.8
  val GopherMinStopHits = 2

  /** Gopher-style quality-rule filter: word-count bounds, mean-word-
    * length bounds, minimum fraction of tokens containing an
    * alphabetic character, and a minimum number of DISTINCT stopword
    * hits — the published pre-training document gate, emitted as one
    * flag column per rule plus the conjunction (`passes`), so a
    * pipeline can either filter on `passes` or audit which rule
    * rejected a document. Entirely row-local (array higher-order
    * functions over the shared tokenizer) — at 100 TB this is pure
    * map work on the same scan as the other quality signals, no
    * exchange. Both ratio features are det4-rounded BEFORE the
    * threshold compare, so a boundary document cannot flip between
    * engines on an FP rendering difference.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val ws = graft.functions.NativeText.tokens(col("text"))
    val n = size(ws).cast("long")
    val meanLen = det4(qfSumLen(ws).cast("double") / n.cast("double"))
    val alphaRatio = det4(
      size(filter(ws, w => w.rlike("[a-z]"))).cast("double") / n.cast("double"))
    val stopHits = size(array_intersect(
      array_distinct(ws),
      array(EnStopwords.map(lit): _*))).cast("long")
    docs
      .select(
        col("doc_id"),
        n.as("n_tokens"),
        meanLen.as("mean_word_len"),
        alphaRatio.as("alpha_ratio"),
        stopHits.as("stop_hits"))
      .where(col("n_tokens") > 0)
      .withColumn("wc_ok",
        (col("n_tokens") >= GopherMinWords &&
          col("n_tokens") <= GopherMaxWords).cast("long"))
      .withColumn("mwl_ok",
        (col("mean_word_len") >= GopherMinMeanLen &&
          col("mean_word_len") <= GopherMaxMeanLen).cast("long"))
      .withColumn("alpha_ok",
        (col("alpha_ratio") >= GopherMinAlphaRatio).cast("long"))
      .withColumn("stop_ok",
        (col("stop_hits") >= GopherMinStopHits).cast("long"))
      .withColumn("passes",
        (col("wc_ok") === 1L && col("mwl_ok") === 1L &&
          col("alpha_ok") === 1L && col("stop_ok") === 1L).cast("long"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic: count stopword hits per language profile,
    * predict the argmax (ties broken by language-code order — the
    * CASE chain evaluates in sorted-lang order with >=). Deterministic
    * and SQL-reproducible.
    */
  def langId(docs: DataFrame): DataFrame = {
    val ws = graft.functions.NativeText.tokens(col("text"))
    val hits: Seq[(String, Column)] = StopwordsByLang.map { case (lang, stops) =>
      lang -> size(filter(ws, w => w.isin(stops.map(x => x: Any): _*)))
    }
    val withHits = docs.select(
      col("doc_id") +: col("lang").as("labeled_lang") +:
        hits.map { case (l, c) => c.as(s"hits_$l") }: _*)
    // argmax with first-wins tie-break over the sorted lang order
    val langs = StopwordsByLang.map(_._1)
    val pred = langs.init.foldRight(lit(langs.last): Column) { (l, rest) =>
      val c = col(s"hits_$l")
      val others = langs.filterNot(_ == l).map(o => c >= col(s"hits_$o"))
      when(others.reduce(_ && _), lit(l)).otherwise(rest)
    }
    withHits
      .select(col("doc_id"), col("labeled_lang"), pred.as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Document fingerprints: md5 of the raw text plus a rolling
    * polynomial hash over the token stream (reproducible in SQL).
    * Native tokenize + fold expressions.
    */
  def docFingerprint(docs: DataFrame): DataFrame = {
    docs
      .select(
        col("doc_id"),
        md5(col("text")).as("fp_md5"),
        graft.functions.NativeText.rollingFingerprint(
          graft.functions.NativeText.tokens(col("text"))).as("fp_roll"))
      .orderBy("doc_id")
  }

  /** TF-IDF top-k terms per document: tf(doc, word) * ln(N / df(word)),
    * ranked per doc. Fully in-plan, single job: N is a 1-row aggregate
    * cross-joined in (Spark broadcasts the single row — no driver
    * `count()` pre-scan), and df(word) is a count WINDOW over the tf
    * table's word partition — the tf rows per word ARE the documents
    * containing it, so the former separate df aggregate + self-join
    * (which recomputed the whole tokenize+tf subtree a second time)
    * collapses into one exchange on `word` over data tf already
    * produced once.
    */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = WordCountOps.summedCounts(docs, Seq(col("doc_id"))).withColumnRenamed("cnt", "tf")
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("word"))))
      .crossJoin(nDocs)
      .withColumn("score_raw", col("tf") * log(col("n_docs") / col("df")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(round(col("score_raw"), 6).desc, col("word").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("word"), col("tf"),
        round(col("score_raw"), 4).as("score"))
      .orderBy("doc_id", "rnk")
  }

  /** Bigram conditional-probability model: P(w2 | w1) =
    * count(w1 w2) / count(w1 ·), top-k continuations per head word.
    * Both the head-word total and the rank are WINDOWS over the
    * already-aggregated bigram table partitioned on the same key, so
    * the plan is one bigram aggregate exchange + one w1 exchange — no
    * derived-aggregate self-join recomputing the tokenize subtree.
    */
  def bigramLm(docs: DataFrame, k: Int = 3, minHead: Long = 10L): DataFrame = {
    val bg = docs
      .select(explode(graft.functions.NativeText.wordNgrams(
        graft.functions.NativeText.tokens(col("text")), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val byHead = Window.partitionBy(col("w1"))
    val rankW = byHead.orderBy(col("cnt").desc, col("bigram").asc)
    bg
      .withColumn("head_total", sum(col("cnt")).over(byHead))
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .where(col("rnk") <= k && col("head_total") >= minHead)
      .select(col("w1"), col("rnk"), col("bigram"), col("cnt"),
        round(col("cnt").cast("double") / col("head_total"), 4).as("p"))
      .orderBy("w1", "rnk")
  }

  /** N-gram width for [[repetitionScore]]; the DuckDB oracle is
    * generated from the same constant.
    */
  val RepetitionNgramN = 3

  /** Repeated-n-gram repetition score (the Gopher/C4-family quality
    * rule): `dup_frac` = 1 - distinct(n-grams)/total(n-grams) per
    * document — near 0 for natural prose, approaching 1 for looping
    * boilerplate. Entirely row-local (one native-tokenizer pass, the
    * n-gram list built and deduplicated on the row), so the 100 TB
    * form is pure map work with no exchange at all.
    */
  def repetitionScore(docs: DataFrame, n: Int = RepetitionNgramN): DataFrame = {
    val grams = graft.functions.NativeText.wordNgrams(
      graft.functions.NativeText.tokens(col("text")), n)
    docs
      .select(col("doc_id"),
        size(grams).cast("long").as("n_ngrams"),
        size(array_distinct(grams)).cast("long").as("n_distinct"))
      .where(col("n_ngrams") > 0)
      .withColumn("dup_frac",
        round(lit(1.0) -
          col("n_distinct").cast("double") / col("n_ngrams").cast("double"), 4))
      .orderBy("doc_id")
  }

  /** Per-document unigram Shannon entropy (nats) — the information-
    * density quality signal: near-zero for degenerate repeated-token
    * docs, ln(n_tokens) for all-distinct text; filtering low-entropy
    * docs removes keyword-stuffing and template boilerplate that
    * count/ratio gates miss. Entirely row-local (zero exchanges):
    * per-word counts fold over the SORTED distinct-word array, so the
    * fp summation order is canonical on both engines. `+ 0.0`
    * normalizes the IEEE −0.0 a zero-entropy (single-word) document
    * produces. At 100 TB this rides the same map-only scan as every
    * other quality score — candidates for one fused pass.
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val ws = graft.functions.NativeText.tokens(col("text"))
    docs
      .select(col("doc_id"), ws.as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        array_sort(array_distinct(col("ws"))).as("dw"),
        col("ws"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("dw")).cast("long").as("n_distinct"),
        (round(-aggregate(col("dw"), lit(0.0), (acc, w) => {
          val p = size(filter(col("ws"), x => x === w)).cast("double") /
            size(col("ws")).cast("double")
          acc + p * log(p)
        }), 4) + lit(0.0)).as("entropy"))
      .orderBy("doc_id")
  }

  /** Corpus-wide word-bigram frequencies, top-k. Native tokenize +
    * n-gram expressions feed the aggregate.
    */
  def ngramFreq(docs: DataFrame, n: Int = 2, k: Int = 30): DataFrame = {
    docs
      .select(explode(graft.functions.NativeText.wordNgrams(
        graft.functions.NativeText.tokens(col("text")), n)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("ngram"))
      .limit(k)
  }

  /** Minimum corpus count for a bigram to be PMI-scored, and the
    * result-set size — shared with the DuckDB oracle.
    */
  val PmiMinCount = 5L
  val PmiTopK = 30

  /** Pointwise-mutual-information collocations: the corpus's most
    * over-represented word pairs, `pmi = ln(P(w1w2) / (P(w1)P(w2)))`
    * with probabilities estimated from exact corpus counts. All
    * statistics are VOCABULARY-grain: the bigram and unigram counts
    * are partial/final aggregates of two Generate branches over the
    * same pruned scan (the counting kernel and the bigram explode,
    * each collapsed map-side before its exchange), the two token totals are 1-row
    * aggregates of row-local `size()` (no third explode), and the
    * unigram joins attach to the bigram table at bigram-vocabulary
    * grain — the corpus itself is never joined or shuffled. The
    * min-count filter cuts the long tail BEFORE the joins, and the
    * top-k is orderBy+limit (TakeOrderedAndProject heaps). The PMI
    * expression is written token-for-token identically in the oracle
    * so both engines run the same IEEE sequence; ranking compares the
    * det6-rounded value (ties to the bigram string).
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = PmiMinCount,
                      k: Int = PmiTopK): DataFrame = {
    val ws = graft.functions.NativeText.tokens(col("text"))
    val uni = WordCountOps.summedCounts(docs).withColumnRenamed("cnt", "c")
    val big = docs
      .select(explode(graft.functions.NativeText.wordNgrams(ws, 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cb"))
    val totals = docs.agg(
      sum(size(ws).cast("long")).cast("double").as("total_tokens"),
      sum(greatest(size(ws) - 1, lit(0)).cast("long")).cast("double")
        .as("total_bigrams"))
    // melt each surviving bigram to (pos, word) rows and join the
    // unigram table ONCE: aliasing uni into per-position legs would
    // break exchange canonicalization and re-tokenize the corpus per
    // leg (measured: 3 Generates; the melt form has 2 — one per
    // statistic). The re-assembly aggregate is bigram-vocabulary
    // grain, never corpus grain.
    big
      .where(col("cb") >= minCount)
      .select(col("bigram"), col("cb"),
        posexplode(split(col("bigram"), " ")).as(Seq("pos", "word")))
      .join(uni, Seq("word"))
      .groupBy("bigram", "cb")
      .agg(max(when(col("pos") === 0, col("c"))).as("c1"),
        max(when(col("pos") === 1, col("c"))).as("c2"))
      .crossJoin(totals)
      .withColumn("pmi_raw",
        log(col("cb").cast("double") * col("total_tokens") * col("total_tokens") /
          (col("total_bigrams") * col("c1") * col("c2"))))
      .orderBy(round(col("pmi_raw"), 6).desc, col("bigram").asc)
      .limit(k)
      .select(
        row_number().over(Window.orderBy(
          round(col("pmi_raw"), 6).desc, col("bigram").asc)).cast("long").as("rnk"),
        col("bigram"), col("cb"), round(col("pmi_raw"), 4).as("pmi"))
      .orderBy("rnk")
  }

  // ----- count-min heavy hitters -----

  /** CMS grid shape + probe count, shared with the generated DuckDB
    * oracle (the NtileBandSamplePct pattern): depth 4 × width 256 =
    * an 8 KB grid; top-20 words probed.
    */
  val CmsD = 4
  val CmsW = 256
  val CmsTopK = 20

  /** Heavy-hitter estimation with the count-min sketch: ONE corpus
    * pass folds every token's 60-bit md5 hash into the constant
    * [[graft.functions.expressions.CountMinAgg]] grid (map-side
    * partial grids merge elementwise on the single exchange), the
    * 8 KB grid broadcasts, and the exact top-k words (from the
    * wordcount aggregate the engine already pays for) are probed
    * row-locally — est ≥ exact always, equality unless the word
    * collides in all d rows. At 100 TB the sketch answers any
    * frequency question WITHOUT a second corpus scan; the exact
    * top-k join here is the gate's ground truth, not a sketch
    * dependency. Deterministic hash family ⇒ every counter and probe
    * is oracle-reproducible.
    */
  def cmsHeavyHitters(docs: DataFrame, d: Int = CmsD, w: Int = CmsW,
                      k: Int = CmsTopK): DataFrame = {
    val hashed = docs
      .select(explode(graft.functions.NativeText.tokens(col("text"))).as("word"))
      .select(col("word"),
        conv(substring(md5(col("word")), 1, 15), 16, 10).cast("long").as("x"))
    val sketch = hashed.agg(
      graft.functions.SketchFunctions.cms(col("x"), d, w).as("sk"))
    val topk = hashed
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"), max(col("x")).as("x"))
      .orderBy(desc("cnt"), asc("word"))
      .limit(k)
    topk.crossJoin(broadcast(sketch))
      .select(col("word"), col("cnt"),
        graft.functions.SketchFunctions.cmsProbe(col("sk"), col("x"), d, w).as("est_cnt"))
      .orderBy("word")
  }

  // ----- winnowing fingerprints (MOSS-style localized matching) -----

  /** Winnowing constants, shared with the generated DuckDB oracle
    * (the NtileBandSamplePct pattern): k-gram width, winnowing window
    * (guarantee: any shared run of WinnowK + WinnowW - 1 words yields
    * a shared fingerprint), pairing thresholds.
    */
  val WinnowK = 4
  val WinnowW = 5
  val WinnowMinShared = 5
  val WinnowMaxDocFreq = 100

  /** (doc_id, fp) winnowing fingerprints — the native one-pass
    * [[graft.functions.expressions.WinnowFingerprintsExpr]] (md5
    * prefix read off the digest bytes + monotonic-deque window
    * minima), bit-identical to the composed
    * `array_distinct(transform(sequence, i -> array_min(slice)))`
    * over `conv(substring(md5(g),1,15),16,10)` hashes that the DuckDB
    * oracle and the SQL parity test still compute independently.
    * Documents with fewer than [[WinnowW]] grams produce an empty
    * array, which the explode drops.
    */
  private def docFingerprints(docs: DataFrame): DataFrame = {
    val grams = graft.functions.NativeText.wordNgrams(
      graft.functions.NativeText.tokens(col("text")), WinnowK)
    docs.select(col("doc_id"),
      explode(graft.functions.NativeText.winnowFp(grams, WinnowW)).as("fp"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    * the distinct set of per-window minima over the k-gram hash
    * stream — any match of at least WinnowK + WinnowW - 1 consecutive
    * words between two documents is GUARANTEED to share a
    * fingerprint, unlike MinHash (whole-document similarity) or the
    * rolling fingerprint (whole-document identity). Fully row-local:
    * the windows are an array transform over the per-doc hash array,
    * zero exchanges before the result sort.
    */
  def winnowFingerprint(docs: DataFrame): DataFrame =
    docFingerprints(docs)
      .orderBy("doc_id", "fp")

  /** Localized-overlap pairing on shared winnowing fingerprints: an
    * inverted-index equi-join on fp, counting shared fingerprints per
    * pair. Fingerprints appearing in more than [[WinnowMaxDocFreq]]
    * documents (boilerplate phrases — the quadratic risk) are dropped
    * by a count window riding the join's own fp shuffle, the same cap
    * mechanism as the minhash/simhash candidate joins; the oracle
    * applies the identical cap from the shared constant.
    */
  def winnowOverlap(docs: DataFrame,
                    minShared: Int = WinnowMinShared,
                    maxDocFreq: Int = WinnowMaxDocFreq): DataFrame = {
    val fps = docFingerprints(docs)
    val bounded = fps
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .where(col("nd") <= maxDocFreq)
      .select("doc_id", "fp")
    bounded.as("a").join(bounded.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("a_id", "b_id")
  }

  // piiScrub shares these with its DuckDB oracle (shared-constant
  // rule): the patterns are plain RE2-compatible regexes — character
  // classes, bounded repetition, no backrefs/lookaround — so the Java
  // and DuckDB engines match the same spans.
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII scrubbing — redact emails and phone numbers with typed
    * placeholder tokens, plus per-document redaction counts. Fully
    * row-local (two codegen'd regexp_replace + two regexp_extract_all
    * over the scan, zero exchanges beyond the result sort): at 100 TB
    * this is pure map work and the scan's column pruning reads only
    * (doc_id, text).
    *
    * The synthetic fixture corpus contains no digits at all, so a
    * scrub over raw fixture text would be vacuously green. The query
    * therefore *injects* deterministic PII derived from doc_id into
    * every 10th document before scrubbing — both engines reproduce
    * the injection from the same expression, so the hash gate proves
    * the scrubber (a) redacts every injected span and (b) leaves the
    * other 90% of documents byte-identical (no over-redaction).
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val raw = when(pmod(col("doc_id"), lit(10)) === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" or call 555-123-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .otherwise(col("text"))
    docs.select(col("doc_id"), raw.as("raw"))
      .select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(col("raw"), lit(PiiEmailRe), lit("<EMAIL>")),
          lit(PiiPhoneRe), lit("<PHONE>")).as("scrubbed"),
        size(regexp_extract_all(col("raw"), lit(PiiEmailRe), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(col("raw"), lit(PiiPhoneRe), lit(0))).cast("long").as("n_phone"))
      .orderBy("doc_id")
  }

  /** Corpus-composition analysis: vocabulary Jaccard overlap between
    * every pair of sources — the "are these two crawls the same
    * distribution?" diagnostic a mixing pipeline runs before setting
    * weights.
    *
    * == Scale shape ==
    * Tokens collapse to DISTINCT (word, source) FIRST (|vocab| ×
    * |sources| rows, not token volume), and the pair counts come from
    * a self-equi-join on the word — each word contributes at most
    * |sources|² rows, so the join output is vocab-bounded with a
    * constant fan-out, never corpus-bounded. Result domain:
    * |sources|².
    */
  def sourceVocabOverlap(docs: DataFrame): DataFrame = {
    val vocab = WordCountOps.summedCounts(docs, Seq(col("source"))).drop("cnt")
    val sizes = vocab.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = vocab.as("a")
      .join(vocab.withColumnRenamed("source", "source_b").as("b"), Seq("word"))
      .where(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes).withColumnRenamed("source", "source_a")
        .withColumnRenamed("n", "n_a"), Seq("source_a"))
      .join(broadcast(sizes).withColumnRenamed("source", "source_b")
        .withColumnRenamed("n", "n_b"), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 4)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }
}
