package graft.operators

import org.apache.spark.sql.{DataFrame, GraftColumn}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication family for a training-data pipeline:
  *
  *  - exact: hash-groupBy on content digest — one shuffle of
  *    (digest, doc_id), fully scalable.
  *  - exact n-gram Jaccard: shingle inverted-index self-join. The
  *    reference semantics for "near duplicate"; exact but the join
  *    fans out on high-document-frequency shingles.
  *  - MinHash+LSH: the 100 TB path. Signature is 64 mins over a
  *    2-universal hash family applied to `xxhash64(shingle)`; 32
  *    bands x 2 rows; candidate pairs from band-bucket equijoin are
  *    *verified with exact Jaccard*, so precision is 1 and the output
  *    equals the exact-join output whenever LSH recall is 1 (which it
  *    is for any pair with J >= 0.8, the threshold here — see the
  *    banding-probability note at [[NumBands]]). Buckets larger than
  *    `maxBucket` are dropped before the pair fan-out, so one
  *    degenerate bucket cannot go quadratic.
  *  - SimHash: 20-bit per-document fingerprint from per-word hash
  *    sign sums; row-local, shuffle-free.
  *
  * Scale notes: the exact shingle join is quadratic in per-shingle
  * document frequency — at 100 TB you run `nearDupMinhash` (bucket
  * fan-out bounded by band width) and cap pathological buckets; the
  * exact join stays as the small-scale oracle of record.
  */
object DedupOps {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val ShingleN = 5
  val NumHashes = 64
  // 32 bands x 2 rows: candidate probability 1-(1-J^2)^32 — recall at
  // the 0.8 threshold is 1 - 2e-14 (16x4 left ~2e-4 miss odds per
  // borderline pair); the exact-verify stage keeps precision at 1, so
  // wider banding costs only extra cheap verifications
  val NumBands = 32
  val RowsPerBand = 2
  val P = 1000000007L

  // simhashDup shares these with its generated DuckDB oracle (the
  // NtileBandSamplePct pattern): chunk layout, hamming radius, and the
  // mega-bucket cap all live here so the two sides cannot diverge.
  val SimhashChunkBits: Seq[Int] = Seq(11, 11, 10) // covers all 32 fingerprint bits
  val SimhashMaxHamming = 2
  val SimhashMaxBucket = 1000

  /** Exact dedup: group by content digest, keep the smallest doc_id. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .select(md5(lower(col("text"))).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "fp")
      .orderBy("keep_id")

  /** Incremental exact dedup: dedup an INCOMING batch against an
    * already-ingested corpus — the shape a continuously-fed training
    * pipeline actually runs (the full-corpus [[exactDedup]] re-scan
    * is the bootstrap, not the steady state). The corpus side
    * contributes only its digest column (at scale: the stored
    * fingerprint index, not the documents); the batch is collapsed
    * to one row per digest FIRST (partial-agg before any join), then
    * a left-anti join on the digest drops everything the corpus has
    * seen. Both sides exchange on fp once and AQE picks the join
    * strategy from the (index, batch) runtime sizes — at 100 TB the
    * corpus index is the big side, the day's batch the small one.
    * Demonstrated on the fixture by parity-splitting `documents`:
    * even doc_ids = corpus, odd = incoming.
    */
  def incrementalDedup(docs: DataFrame): DataFrame =
    dedupBatch(docs.where(pmod(col("doc_id"), lit(2)) === 1), docs)

  /** The user-facing batch form of the digest-index probe:
    * `arriving` is ANY frame of (doc_id, text) rows deduped against
    * the ingested corpus's digest set (even doc_ids — at scale, the
    * stored fingerprint index). Same probe the parity-gated
    * [[incrementalDedup]] runs; the registry gates a second split
    * (`doc_id % 4 == 1`) through this entry point.
    */
  def dedupBatch(arriving: DataFrame, docs: DataFrame): DataFrame = {
    val corpusFps = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      .select(md5(lower(col("text"))).as("fp"))
    arriving
      .select(md5(lower(col("text"))).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .join(corpusFps, Seq("fp"), "left_anti")
      .select("keep_id", "n_copies", "fp")
      .orderBy("keep_id")
  }

  // bloomDedup shares these with its generated oracle: hash count,
  // bitmap width. Sized so the 10x corpus (~50k digests) stays far
  // under m (n/m ≈ 0.05 → FP ~1e-4); at real scale m grows with the
  // index, or the sketch shards by digest prefix.
  val BloomK = 6
  val BloomMBits = 1 << 20

  /** Bloom-gated incremental dedup — the approximate fast path of
    * [[incrementalDedup]] for when the ingested-corpus digest index
    * is too big to anti-join per batch: ONE pass over the corpus
    * digests builds a fixed-size (128 KB here) mergeable bitmap
    * that BROADCASTS, and the incoming batch probes it row-locally.
    * `maybe_dup` is the bloom verdict (false negatives impossible;
    * false positives bounded and — because the bit positions come
    * from the deterministic [[CmsHash]] family — exactly reproduced
    * by the oracle), `is_dup` the exact verdict for comparison.
    * Same parity split as incrementalDedup: even doc_ids = corpus,
    * odd = incoming batch.
    */
  def bloomDedup(docs: DataFrame): DataFrame = {
    val keyHash = conv(substring(md5(lower(col("text"))), 1, 15), 16, 10)
      .cast("long")
    val corpus = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      .select(keyHash.as("h")).distinct()
    val sketch = corpus
      .agg(graft.functions.SketchFunctions.bloom(col("h"), BloomK, BloomMBits)
        .as("bf"))
    docs.where(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), keyHash.as("bh"))
      .join(broadcast(sketch))
      .select(col("doc_id"), col("bh"),
        graft.functions.SketchFunctions
          .bloomProbe(col("bf"), col("bh"), BloomK, BloomMBits)
          .cast("long").as("maybe_dup"))
      .join(corpus.withColumn("hit", lit(1L)), col("bh") === col("h"), "left")
      .select(col("doc_id"), col("maybe_dup"),
        coalesce(col("hit"), lit(0L)).as("is_dup"))
      .orderBy("doc_id")
  }

  /** (doc_id, shingles array) — the shared dedup input. Native
    * tokenize + n-gram expressions (hot path at scale).
    */
  private[graft] def docShingles(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
        graft.functions.NativeText.shingles(
          graft.functions.NativeText.tokens(col("text")), ShingleN).as("sh"))
      .where(size(col("sh")) > 0)
  }

  /** LSH band keys of a shingled corpus: one (doc_id, band) row per
    * band, key = band index + the signature's row-slice for that
    * band. The signature is the native one-pass
    * [[graft.functions.expressions.MinHashSignature]] — the HOF
    * formulation of the same math benches ~20x slower interpreted.
    * Shared by the self-join path ([[nearDupMinhash]]) and the
    * persisted-index path ([[lshIndexDir]] / [[incrementalNearDedup]]),
    * so the two can never disagree on banding.
    */
  private[graft] def bandsOf(ds: DataFrame): DataFrame = {
    val signed = ds.withColumn("sig", GraftColumn(graft.functions.expressions.MinHashSignature(
      GraftColumn.expr(col("sh")), NumHashes, P)))
    signed.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(NumBands - 1)), b =>
        concat_ws(":", b.cast("string"),
          concat_ws(",", transform(slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand)),
            v => v.cast("string")))))).as("band"))
  }

  /** Exact near-dup pairs by word-5-gram Jaccard >= threshold,
    * via inverted-index self-join on shingles.
    */
  def nearDupJaccard(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    // no .cache(): the shingle projection is cheap native compute and
    // a session-lifetime cached corpus would pin executor storage
    val ds = docShingles(docs)
    val inv = ds.select(col("doc_id"), explode(col("sh")).as("s"))
    val cand = inv.as("a").join(inv.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    // no broadcast hint: cnt is one row PER DOCUMENT (corpus-sized, not
    // dimension-sized) — let AQE pick broadcast vs shuffled-hash by the
    // actual runtime size
    val cnt = ds.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val withCounts = cand
      .join(cnt.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(cnt.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
    jaccardOutput(withCounts, threshold)
  }

  /** MinHash + LSH near-dup with exact-Jaccard verification.
    * Same output schema/semantics as [[nearDupJaccard]]; candidate
    * generation is the banded minhash join instead of the full
    * inverted index.
    *
    * `maxBucket` bounds the per-band bucket size: a bucket with more
    * than `maxBucket` colliding documents is dropped BEFORE the band
    * self-join, via a count window that rides the band-key shuffle
    * the self-join pays anyway (never a collected list; WindowExec
    * spills oversized groups, so executor memory stays bounded too).
    * A true J>=0.8 pair collides in ~all 32 bands, so losing one
    * pathological bucket costs essentially no recall; a genuinely
    * dense duplicate cluster is exactDedup's job, not LSH's.
    */
  def nearDupMinhash(docs: DataFrame, threshold: Double = 0.8,
                     maxBucket: Int = 1000): DataFrame = {
    log.info(s"nearDupMinhash: capping LSH band buckets at $maxBucket docs")
    val ds = docShingles(docs)
    val bands = bandsOf(ds)
    // cap pathological buckets: a count window over the band key —
    // the window's hash-partitioning on band is exactly what the
    // self-join below needs, so the cap rides the shuffle the join
    // pays anyway (one exchange, computed once, reused for both join
    // sides) instead of adding an aggregate + filter-join
    // NOT materialized: the self-join's two sides are byte-identical
    // subtrees ending in the window's hash(band) exchange, and
    // ReuseExchange evaluates that exchange ONCE — measured round 11:
    // forcing an eager checkpoint here REGRESSED the query ~1 s at
    // sf0.1 by paying materialization for a dedup Spark already does.
    val bounded = bands
      .withColumn("bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"))))
      .where(col("bn") <= maxBucket)
      .select("band", "doc_id")
    val cand = bounded.as("a").join(bounded.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifyCandidates(cand, ds, threshold)
  }

  /** Exact-Jaccard verification tail shared by the LSH candidate
    * paths: a LINEAR join chain — candidates resolve sh_a, then sh_b,
    * against the same shingle source. The two vs-side join inputs are
    * identical subtrees ending in a hash(doc_id) exchange, so
    * ReuseExchange computes the shingle projection ONCE; round 11
    * measured the "smarter" endpoint-semi-join + eager-materialization
    * variant of this tail ~1 s SLOWER at sf0.1 — the extra jobs cost
    * more than the recompute they avoided. At 100 TB the same holds:
    * verification is one linear shingle pass riding a reused
    * exchange, and candidate count (not corpus size) bounds the join
    * fan-out.
    */
  private def verifyCandidates(cand: DataFrame,
                               vs: DataFrame,
                               threshold: Double): DataFrame = {
    val withSh = cand
      .join(vs.select(col("doc_id"), col("sh").as("sh_a")), col("a_id") === col("doc_id"))
      .drop("doc_id")
      .join(vs.select(col("doc_id"), col("sh").as("sh_b")), col("b_id") === col("doc_id"))
      .drop("doc_id")
    val verified = withSh.select(
      col("a_id"), col("b_id"),
      size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
      size(col("sh_a")).cast("long").as("na"),
      size(col("sh_b")).cast("long").as("nb"))
    jaccardOutput(verified, threshold)
  }

  /** Canonical tail shared by both near-dup variants: given
    * (a_id, b_id, inter, na, nb), compute + round + filter Jaccard
    * and emit the ordered (a_id, b_id, jac) contract.
    */
  private def jaccardOutput(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("jac", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 4))
      .where(col("jac") >= threshold)
      .select("a_id", "b_id", "jac")
      .orderBy("a_id", "b_id")

  /** SimHash fingerprint: 20-bit signature from the sign of per-bit
    * weighted sums of word hashes. Row-local (20 array-aggregates per
    * doc), shuffle-free; pairing at scale is a bucketed hamming join
    * over signature chunks.
    */
  def simhash(docs: DataFrame): DataFrame =
    simhashSigs(docs, 20).orderBy("doc_id")

  /** (doc_id, simhash) without the result ordering — the shared input
    * of [[simhash]] (20-bit surface) and [[simhashDup]] (32-bit:
    * pairing needs the wider fingerprint for bucket selectivity; the
    * word hash has full 32-bit entropy so any prefix of bits is
    * informative). One pass through the native
    * [[graft.functions.expressions.SimHashSignature]] expression —
    * the HOF formulation re-walked the token array `bits` times
    * interpreted (the dominant cost of the pairing query at 10×).
    */
  private def simhashSigs(docs: DataFrame, bits: Int): DataFrame = {
    val ws = graft.functions.NativeText.tokens(col("text"))
    docs
      .select(col("doc_id"), ws.as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"),
        graft.functions.NativeText.simhashSig(col("ws"), bits).as("simhash"))
  }

  /** SimHash near-dup PAIRING at scale: a 32-bit fingerprint splits
    * into 3 chunks (11+11+10 bits); by pigeonhole any pair within
    * hamming distance 2 agrees on at least one whole chunk, so a
    * chunk-bucket equijoin generates candidates with recall exactly
    * 1 — never all-pairs — and `bit_count` of the XOR verifies the
    * distance. The hamming analog of [[nearDupMinhash]]'s band join
    * (its DuckDB oracle is the independent all-pairs formulation, so
    * a hash match is itself the recall-1 proof).
    *
    * Width sizing: expected bucket population is n / 2^chunkBits per
    * chunk value, so candidate volume grows O(nChunks · n² /
    * 2^chunkBits). A same-language corpus clusters its fingerprints,
    * so chunk width must beat BOTH uniform density and semantic
    * skew — 20-bit fingerprints (6/7-bit chunks) measured millions of
    * candidate pairs at sf0.1 where 32-bit (10/11-bit chunks) stays
    * in the hundreds of thousands. At web scale keep widening
    * (64-bit simhash, 16-bit chunks), same plan shape.
    *
    * The oracle mirrors the [[SimhashMaxBucket]] cap (same shared
    * constant, chunk-count CTE filter), so the hash gate holds at any
    * SF; below the cap the capped oracle degenerates to all-pairs, so
    * the recall-1 proof at gate SFs is unchanged.
    */
  def simhashDup(docs: DataFrame, maxHamming: Int = SimhashMaxHamming,
                 maxBucket: Int = SimhashMaxBucket): DataFrame = {
    val chunkBitWidths = SimhashChunkBits
    val offsets = chunkBitWidths.scanLeft(0)(_ + _)
    require(maxHamming < chunkBitWidths.size,
      "pigeonhole recall needs maxHamming < number of chunks")
    val sigs = simhashSigs(docs, 32)
    val keyed = sigs.select(col("doc_id"), col("simhash"),
      explode(array(chunkBitWidths.zipWithIndex.map { case (w, c) =>
        concat_ws(":", lit(c).cast("string"),
          shiftright(col("simhash"), offsets(c))
            .bitwiseAND(lit((1L << w) - 1)).cast("string"))
      }: _*)).as("ck"))
    // semantic mega-clusters (one language's docs agreeing on a whole
    // chunk) are the quadratic risk at corpus scale — same answer as
    // nearDupMinhash: a count window riding the join's own chunk-key
    // shuffle drops buckets over maxBucket (dense identical clusters
    // are exactDedup's job). The oracle applies the same cap from the
    // same constant; at fixture SFs every bucket is under it, so the
    // capped oracle equals all-pairs and the recall-1 proof stands.
    // not materialized: the self-join sides share the window's
    // hash(ck) exchange via ReuseExchange (see nearDupMinhash)
    val bounded = keyed
      .withColumn("bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("ck"))))
      .where(col("bn") <= maxBucket)
      .select("doc_id", "simhash", "ck")
    // popcount-verify BEFORE the distinct: the filter is one codegen'd
    // instruction per candidate, so the (expensive, shuffling) dedup
    // of pairs seen in multiple chunks runs over survivors only
    bounded.as("a").join(bounded.as("b"),
        col("a.ck") === col("b.ck") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  // substringDedup shares these with its generated oracle: run length
  // (tokens per repeated-substring shingle) and the doc-frequency cap
  // that keeps boilerplate mega-shingles from going quadratic.
  val SubstrRunLen = 8
  val SubstrDocFreqCap = 1000

  /** Substring-level exact dedup (Lee et al. "Deduplicating Training
    * Data Makes Language Models Better" shape): find token runs of
    * [[SubstrRunLen]] words repeated across documents and measure how
    * much of each document those cross-document runs cover — the
    * within-document excision stage doc-level dedup (exact / minhash /
    * simhash) cannot express, because two documents can share a
    * paragraph without being near-duplicates.
    *
    * Plan: every token position opens one positioned shingle (start,
    * run text); shingles shuffle ONCE on their text to compute
    * document frequency and the canonical owner (min doc_id); runs
    * repeated in 2..cap distinct docs mark their NON-owner occurrences
    * as removable (the owner keeps its copy — the survivors
    * convention); coverage explodes each removable run into its
    * [[SubstrRunLen]] positions and distinct-counts per doc, so
    * overlapping runs never double-count a token.
    *
    * At 100 TB: all three shuffles are key-partitioned (shingle text,
    * shingle text, doc_id) — never an all-pairs join; per-shingle
    * fan-out is bounded by the doc-frequency cap (a run in more than
    * `cap` documents is dropped the way winnow drops stop-fingerprints
    * — dense identical clusters are exactDedup's job), and the
    * coverage explode is a constant `runLen` factor on removable
    * occurrences only. A suffix-array build would find arbitrary-
    * length repeats; fixed-length token runs find the same ≥runLen
    * repeats at a fraction of the coordination cost, fully in
    * DataFrame operators.
    */
  /** (doc_id, ws) token arrays of non-empty docs — the shared head of
    * the substring family. */
  private def substrToks(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), graft.functions.NativeText.tokens(col("text")).as("ws"))
      .where(size(col("ws")) > 0)
  }

  /** Every `runLen`-token run occurrence as (doc_id, start, sh) —
    * 0-based starts, space-joined run text. */
  private def substrOcc(toks: DataFrame, runLen: Int): DataFrame =
    toks
      .where(size(col("ws")) >= runLen)
      .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("ws")) - runLen),
          i => struct(i.as("start"),
            array_join(slice(col("ws"), i + 1, lit(runLen)), " ").as("sh")))).as("o"))
      .select(col("doc_id"), col("o.start").as("start"), col("o.sh").as("sh"))

  /** Run occurrences that excision removes: every occurrence of a
    * cross-document repeated run (doc-freq in [2, cap]) outside its
    * min-doc_id owner. */
  private def substrRemovable(occ: DataFrame, cap: Int): DataFrame = {
    val docFreq = occ.groupBy("sh")
      .agg(countDistinct("doc_id").as("df"), min("doc_id").as("owner"))
      .where(col("df") >= 2 && col("df") <= cap)
    occ.join(docFreq, "sh").where(col("doc_id") =!= col("owner"))
  }

  def substringDedup(docs: DataFrame,
                     runLen: Int = SubstrRunLen,
                     cap: Int = SubstrDocFreqCap): DataFrame = {
    val toks = substrToks(docs)
    val removable = substrRemovable(substrOcc(toks, runLen), cap)
    val coverage = removable
      .select(col("doc_id"), explode(sequence(col("start"),
        col("start") + (runLen - 1))).as("p"))
      .groupBy("doc_id")
      .agg(countDistinct("p").as("dup_tokens"))
    toks
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(coverage, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round((col("n_tokens") - coalesce(col("dup_tokens"), lit(0L)))
          .cast("double") / col("n_tokens"), 4).as("keep_ratio"))
      .orderBy("doc_id")
  }

  /** Substring-level EXCISION — the cleaned corpus itself, where
    * [[substringDedup]] only measures coverage. Every occurrence of a
    * cross-document repeated `runLen`-token run outside its owner doc
    * is removed and the surviving tokens are reassembled in order
    * (single-space joined — the tokenizer's inverse, same rule the
    * oracle applies). A doc whose every token is covered (an exact
    * duplicate of an earlier doc, e.g.) survives as an empty
    * `clean_text` row rather than vanishing — downstream stages
    * decide what to do with empties.
    *
    * Shuffle shape: run doc-frequency aggregate (by run text), the
    * (doc, position) anti join and the per-doc reassembly — all
    * key-partitioned; position fan-out is one row per token, linear
    * in corpus size, and the doc-freq cap bounds the removable
    * fan-out exactly as in [[substringDedup]].
    */
  def substringExcise(docs: DataFrame, runLen: Int = SubstrRunLen,
                      cap: Int = SubstrDocFreqCap): DataFrame = {
    val toks = substrToks(docs)
    val removable = substrRemovable(substrOcc(toks, runLen), cap)
    val removedPos = removable
      .select(col("doc_id"), explode(sequence(col("start"),
        col("start") + (runLen - 1))).as("p"))
      .distinct()
    val positions = toks
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("p", "tok")))
    val rebuilt = positions
      .join(removedPos, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"))
    toks
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Write-once substring RUN INDEX of the already-ingested corpus
    * (even doc_ids — the parity convention of the other persisted
    * indexes): one row per DISTINCT corpus run text with its corpus
    * document frequency and canonical owner (min doc_id). This is the
    * substring family's steady-state backbone, completing the story
    * the LSH band index ([[lshIndexDir]]), the digest index, and the
    * IVF lists tell for their families: an arriving batch probes the
    * stored per-run stats instead of re-shingling the corpus. All
    * runs are stored (df ≥ 1, not just repeated ones) because a batch
    * doc sharing a run with ONE corpus doc makes the combined df 2 —
    * the index must answer "how many corpus docs held this run", not
    * "was it already a duplicate". Unlike the band index (32
    * rows/doc), a run index is inherently text-volume-sized — the
    * same bound as Lee et al.'s suffix array, which indexes every
    * corpus position; at 100 TB it lives bucketed by run key so the
    * probe join co-locates without shuffling the index.
    */
  def substrIndexDir(docs: DataFrame, sfDir: String): String =
    graft.sources.Fixtures.ensure("substridx", sfDir,
      Seq(s"$sfDir/documents.parquet")) { dir =>
      substrOcc(substrToks(docs.where(pmod(col("doc_id"), lit(2)) === 0)),
        SubstrRunLen)
        .groupBy("sh")
        .agg(countDistinct("doc_id").as("corpus_df"),
          min("doc_id").as("corpus_owner"))
        .write.mode("overwrite").parquet(s"$dir/runs")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
      ()
    }

  /** Steady-state [[substringDedup]]: coverage for the parity-split
    * arriving batch (odd doc_ids) via the persisted corpus run index.
    */
  def incrementalSubstringDedup(docs: DataFrame, sfDir: String,
                                runLen: Int = SubstrRunLen,
                                cap: Int = SubstrDocFreqCap): DataFrame =
    substringDedupBatch(docs.where(pmod(col("doc_id"), lit(2)) === 1),
      docs, sfDir, runLen, cap)

  /** Substring-dedup coverage for an ARBITRARY arriving batch against
    * the persisted corpus run index ([[substrIndexDir]]) — the public
    * batch-parameterized probe, mirroring [[nearDedupBatch]]. The
    * combined per-run document frequency is corpus df (stored) +
    * batch df (computed over the batch alone — parities are disjoint,
    * so the sum IS the union's distinct count), the combined owner the
    * min of the two owners; removability of a batch occurrence
    * depends only on that (df, owner) pair, which is why probe ==
    * full rebuild restricted to batch docs, bit for bit (the oracle's
    * claim, and [[DedupSpec]]'s for an arbitrary second split). The
    * corpus is never re-shingled: the probe shuffles batch-sized
    * tables against the run-keyed index.
    */
  def substringDedupBatch(batch: DataFrame, docs: DataFrame, sfDir: String,
                          runLen: Int = SubstrRunLen,
                          cap: Int = SubstrDocFreqCap): DataFrame = {
    val spark = docs.sparkSession
    val idx = spark.read.parquet(s"${substrIndexDir(docs, sfDir)}/runs")
    val toksB = substrToks(batch)
    // the batch occurrence table feeds the stats aggregate AND the
    // removability join — materialize once (subtree discipline)
    val occ = Checkpoints.truncate(substrOcc(toksB, runLen))
    val batchStats = occ.groupBy("sh")
      .agg(countDistinct("doc_id").as("batch_df"),
        min("doc_id").as("batch_owner"))
    val combined = batchStats.join(idx, Seq("sh"), "left")
      .select(col("sh"),
        (col("batch_df") + coalesce(col("corpus_df"), lit(0L))).as("df"),
        least(col("batch_owner"),
          coalesce(col("corpus_owner"), col("batch_owner"))).as("owner"))
      .where(col("df") >= 2 && col("df") <= cap)
    val removable = occ.join(combined, "sh")
      .where(col("doc_id") =!= col("owner"))
    val coverage = removable
      .select(col("doc_id"), explode(sequence(col("start"),
        col("start") + (runLen - 1))).as("p"))
      .groupBy("doc_id")
      .agg(countDistinct("p").as("dup_tokens"))
    toksB
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(coverage, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round((col("n_tokens") - coalesce(col("dup_tokens"), lit(0L)))
          .cast("double") / col("n_tokens"), 4).as("keep_ratio"))
      .orderBy("doc_id")
  }

  // dupComponents shares this with ComponentsSpec: the convergence
  // bound is the propagation diameter, and the spec's worst-case
  // chain fixture is sized against it.
  val ComponentsMaxIters = 25

  /** Connected components over an undirected (a_id, b_id) edge set by
    * iterative min-label propagation — the clustering step a dedup
    * pipeline runs AFTER pair generation: near-dup pairs only relate
    * documents two at a time; keeping one document per *transitive*
    * duplicate cluster needs the components of the pair graph.
    *
    * Each iteration is one distributed join (edges x labels) plus one
    * min-aggregate — both hash-partitioned on the node id, no
    * driver-side graph state ever (unlike [[SimilarityOps]]'s Lloyd
    * loop the per-node state is corpus-sized, so it stays distributed
    * instead of collected). Every round ends in an eager
    * `localCheckpoint()`: the label table feeds the next round TWICE
    * (join probe + union arm), so without lineage truncation the plan
    * tree doubles per round — 2^rounds nodes — and long-diameter
    * graphs OOM the *driver* on plan bookkeeping alone. Checkpointing
    * makes each round's plan read the previous round's materialized
    * result; superseded round caches are unreferenced and the
    * ContextCleaner reclaims them. Durability is a deployment choice:
    * [[Checkpoints.truncate]] uses `localCheckpoint()` by default and
    * switches to reliable `checkpoint()` when `graft.checkpoint.dir`
    * is set (local checkpoints die with a lost executor). Convergence is detected
    * from the label-sum fixpoint: labels only ever decrease under min
    * propagation, so an unchanged `sum(label)` proves an unchanged
    * label table without a second join (decimal(38,0) sum — exact,
    * order-insensitive, overflow-free at any corpus size).
    *
    * Rounds needed = the component diameter, which for duplicate
    * clusters (near-cliques by construction: J >= 0.8 is close to
    * transitive) is 1-2; `maxIters` is a safety bound, not a budget.
    * A graph with genuinely long chains at 100 TB would want the
    * large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) which converges
    * in O(log^2 n) rounds; plain propagation is the right trade here
    * because dedup graphs are diameter-bounded.
    *
    * Determinism: the fixpoint (every node labelled with its
    * component's minimum id) is unique regardless of iteration
    * order/count, so the result is oracle-able — the DuckDB side
    * computes the same fixpoint with a recursive CTE.
    */
  def connectedComponents(edges: DataFrame,
                          maxIters: Int = ComponentsMaxIters): DataFrame = {
    val e = edges.select(col("a_id").cast("long").as("u"), col("b_id").cast("long").as("v"))
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .persist()
    // localCheckpoint (not scratchParquet) on purpose: an r21 A/B at
    // sf0.1 measured the per-round parquet write costing more than
    // the stats-driven broadcast bought back (dup_components 1.2 →
    // 1.7 s, semantic_dedup 4.5 → 5.3 s) — the label table is tiny,
    // its SMJ shuffles almost nothing, and AQE already converts the
    // small runtime shuffle where it matters
    var labels = Checkpoints.truncate(
      sym.select(col("u").as("id")).distinct()
        .withColumn("label", col("id")))
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      df.agg(sum(col("label")).cast("decimal(38,0)")).head()
        .getAs[java.math.BigDecimal](0) match { case null => None; case s => Some(s) }
    var prev = labelSum(labels)
    var it = 0
    var converged = prev.isEmpty // empty edge set: nothing to propagate
    while (!converged && it < maxIters) {
      val l = labels
      val prop = sym.join(l, sym("v") === l("id"))
        .select(sym("u").as("id"), l("label"))
      // eager checkpoint: materializes the round AND truncates lineage
      val next = Checkpoints.truncate(
        l.select("id", "label").union(prop)
          .groupBy("id").agg(min("label").as("label")))
      val cur = labelSum(next)
      labels = next
      converged = cur == prev
      prev = cur
      it += 1
      log.info(s"connectedComponents: round $it labelSum=$cur converged=$converged")
    }
    sym.unpersist()
    // the returned plan reads the final round's checkpoint, so no
    // downstream action ever re-runs the loop; the checkpoint cache
    // is 2 columns x node count — small relative to any corpus that
    // produced it — and is reclaimed when the result goes out of scope
    labels.select(col("id").as("doc_id"), col("label").as("component"))
      .orderBy("doc_id")
  }

  /** Write-once dedup-closure index for a dataset directory: the full
    * near-dup pair EDGE set (`edges/`, from [[nearDupJaccard]] — the
    * oracle of record; at 100 TB feed [[nearDupMinhash]]'s
    * identical-schema output, same contract) and the CONVERGED LABELS
    * of the already-ingested corpus half (`corpus_labels/`, even
    * doc_ids — [[incrementalDedup]]'s parity convention). Keyed by
    * dataset basename + source-file fingerprint
    * ([[graft.sources.Fixtures]]), so regenerated data can never
    * reuse a stale graph. This is the steady-state shape the plan
    * audit asked for: downstream closure queries read the persisted
    * graph instead of re-deriving the pair set end-to-end per
    * invocation — at scale the index is maintained per ingest batch,
    * and only [[incrementalComponents]] ever re-converges labels.
    */
  def componentsIndexDir(docs: DataFrame, sfDir: String): String =
    graft.sources.Fixtures.ensure("ccindex", sfDir,
      Seq(s"$sfDir/documents.parquet")) { dir =>
      val spark = docs.sparkSession
      nearDupJaccard(docs).write.mode("overwrite").parquet(s"$dir/edges")
      // corpus labels converge over the even-even subgraph; a pair's
      // jaccard is independent of other documents, so filtering the
      // full edge set equals re-pairing the corpus alone
      val evenEdges = spark.read.parquet(s"$dir/edges")
        .where(col("a_id") % 2 === 0 && col("b_id") % 2 === 0)
      connectedComponents(evenEdges)
        .write.mode("overwrite").parquet(s"$dir/corpus_labels")
      // top-level marker: the two parquet subdirs carry their own
      // _SUCCESS, Fixtures keys completion on the directory's
      java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
      ()
    }

  /** Duplicate clusters of the near-dup pair graph: each document
    * that has at least one J >= 0.8 partner, labelled with its
    * cluster's minimum doc_id. Edge generation is [[nearDupJaccard]]
    * (the oracle of record — at 100 TB you feed [[nearDupMinhash]]'s
    * identical-schema output instead, same contract).
    */
  def dupComponents(docs: DataFrame): DataFrame =
    connectedComponents(nearDupJaccard(docs))

  /** [[dupComponents]] over the persisted edge index: the pair graph
    * is read back from [[componentsIndexDir]] instead of re-derived
    * from text — only label propagation runs per invocation. Same
    * result, same oracle (which always recomputes from scratch).
    */
  def dupComponents(docs: DataFrame, sfDir: String): DataFrame =
    connectedComponents(
      docs.sparkSession.read.parquet(s"${componentsIndexDir(docs, sfDir)}/edges"))

  /** The deduplicated corpus: one canonical document (the minimum
    * doc_id) per duplicate cluster, plus every document with no
    * near-dup partner at all. This is the pipeline's actual output —
    * components are the means, the surviving corpus is the end. The
    * non-canonical set is tiny relative to the corpus (it is bounded
    * by the pair-graph node count), so the anti join broadcasts at
    * any realistic dup rate; AQE decides from runtime sizes.
    */
  def dedupSurvivors(docs: DataFrame): DataFrame =
    dedupSurvivorsFrom(docs, dupComponents(docs))

  /** [[dedupSurvivors]] over the persisted edge index (see
    * [[dupComponents]]'s sfDir overload). */
  def dedupSurvivors(docs: DataFrame, sfDir: String): DataFrame =
    dedupSurvivorsFrom(docs, dupComponents(docs, sfDir))

  private def dedupSurvivorsFrom(docs: DataFrame, components: DataFrame): DataFrame = {
    val nonCanonical = components
      .where(col("component") < col("doc_id"))
      .select("doc_id")
    docs.join(nonCanonical, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Near-dup pairs of an arriving batch (odd doc_ids) against
    * corpus+batch — the INCREMENTAL edge set: every J >= threshold
    * pair with at least one batch endpoint, and never a
    * corpus-corpus re-pair. Batch-corpus candidates come from the
    * small batch inverted index probing the corpus index (the small
    * side drives the join — at 100 TB the corpus side is the stored
    * shingle index); batch-batch candidates from the batch's own
    * self-join. Output schema/rounding identical to
    * [[nearDupJaccard]], so the union with the persisted edge set is
    * exactly the full-corpus pair graph.
    */
  def incrementalEdges(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val dsAll = docShingles(docs)
    val dsBatch = dsAll.where(pmod(col("doc_id"), lit(2)) === 1)
    val invCorpus = dsAll.where(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id").as("cid"), explode(col("sh")).as("s"))
    val invBatch = dsBatch
      .select(col("doc_id").as("bid"), explode(col("sh")).as("s"))
    // batch x corpus: ids are from disjoint parities, so normalize
    // with least/greatest; each shared shingle contributes one row
    val candBC = invBatch.join(invCorpus, "s")
      .groupBy(least(col("bid"), col("cid")).as("a_id"),
        greatest(col("bid"), col("cid")).as("b_id"))
      .agg(count(lit(1)).as("inter"))
    // batch x batch: the standard ordered self-join
    val candBB = invBatch.as("a").join(invBatch.as("b"),
        col("a.s") === col("b.s") && col("a.bid") < col("b.bid"))
      .groupBy(col("a.bid").as("a_id"), col("b.bid").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    val cnt = dsAll.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val withCounts = candBC.unionByName(candBB)
      .join(cnt.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(cnt.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
    jaccardOutput(withCounts, threshold)
  }

  /** Write-once MinHash-LSH band index of the already-ingested corpus
    * (even doc_ids — [[incrementalDedup]]'s parity convention):
    * `bands/` holds one (band, doc_id) row per corpus doc per band
    * (32 rows/doc — fixed fan-out, index size is linear in the
    * corpus), `band_counts/` the per-band corpus population so a
    * probing batch can enforce the [[nearDupMinhash]] mega-bucket cap
    * against the COMBINED (stored + arriving) bucket size without
    * ever re-aggregating the stored side. Keyed by dataset basename +
    * source fingerprint ([[graft.sources.Fixtures]]) so regenerated
    * data can never hit a stale index. At 100 TB this is the stored
    * LSH index a streaming ingest front door maintains per batch; the
    * shingle inverted index ([[incrementalEdges]]) grows with total
    * text volume, the band index with document count x 32.
    */
  /** Build an LSH band index — `bands` (doc_id, band) plus the
    * `band_counts` the mega-bucket cap reads — for `corpus` under
    * `dir`. The write path shared by the fixture-keyed
    * [[lshIndexDir]] and any user-managed index location (the counts
    * are re-read from the WRITTEN bands so they can never drift from
    * what a later probe will scan).
    */
  def writeLshIndex(corpus: DataFrame, dir: String): Unit = {
    bandsOf(docShingles(corpus))
      .write.mode("overwrite").parquet(s"$dir/bands")
    corpus.sparkSession.read.parquet(s"$dir/bands")
      .groupBy("band").agg(count(lit(1)).as("corpus_n"))
      .write.mode("overwrite").parquet(s"$dir/band_counts")
  }

  /** Fold an ACCEPTED batch into a persisted LSH band index — the
    * index-maintenance step the streamed/batch ingest front doors
    * leave to the pipeline: the batch's band rows are APPENDED to the
    * stored bands and the band counts are advanced by a MERGE of the
    * batch's per-band deltas (full-outer join — new bands appear,
    * untouched bands pass through). Nothing re-bands or re-counts the
    * corpus: the append touches |batch| band rows and the count merge
    * joins two band-keyed tables, both shuffle-partitioned by band at
    * scale. The new counts commit by directory rename after a
    * complete write, the standard DFS publish step, so a crash
    * mid-merge leaves the old counts in place rather than a torn
    * table ([[IndexMaintenanceSpec]] proves fold == full rebuild for
    * bands, counts, and a follow-up probe).
    */
  def foldBatchIntoLshIndex(batch: DataFrame, indexDir: String): Unit = {
    val spark = batch.sparkSession
    // CAS the version slot FIRST ([[IndexVersion]] — the concurrent-
    // writer contract): a second fold racing this one fails loudly
    // here, before any append, instead of silently losing its count
    // merge behind ours
    val v = IndexVersion.begin(indexDir)
    // the batch band table feeds the append AND the delta counts —
    // materialize once (subtree-duplication discipline)
    val batchBands = Checkpoints.truncate(bandsOf(docShingles(batch)))
    batchBands.write.mode("append").parquet(s"$indexDir/bands")
    val deltas = batchBands.groupBy("band").agg(count(lit(1)).as("delta_n"))
    publishTable(
      spark.read.parquet(s"$indexDir/band_counts")
        .join(deltas, Seq("band"), "full_outer")
        .select(col("band"),
          (coalesce(col("corpus_n"), lit(0L)) +
            coalesce(col("delta_n"), lit(0L))).as("corpus_n")),
      indexDir, "band_counts")
    IndexVersion.commit(indexDir, v)
  }

  def lshIndexDir(docs: DataFrame, sfDir: String): String =
    // params "h2": band keys bake the MinHashSignature hash family —
    // the affine-per-row revision must never read an index built by
    // the old correlated family (fixture names ignore code versions)
    graft.sources.Fixtures.ensure("lshidx", sfDir,
      Seq(s"$sfDir/documents.parquet"), params = "h2") { dir =>
      writeLshIndex(docs.where(pmod(col("doc_id"), lit(2)) === 0), dir)
      // top-level marker: the parquet subdirs carry their own
      // _SUCCESS, Fixtures keys completion on the directory's
      java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
      ()
    }

  /** Atomically replace `indexDir/<name>` with a freshly-written
    * table — the rename-publish step shared by the count merges and
    * the band compaction: a crash mid-write leaves the live table
    * untouched, never a torn one.
    */
  private[operators] def publishTable(df: DataFrame, indexDir: String,
                                      name: String): Unit = {
    val tmp = new java.io.File(indexDir, s"${name}_next")
    df.write.mode("overwrite").parquet(tmp.getPath)
    val live = new java.io.File(indexDir, name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(live)
    java.nio.file.Files.move(tmp.toPath, live.toPath)
    ()
  }

  /** DELETE documents from a persisted LSH band index — the dedup
    * family's take-down/right-to-erasure step, mirroring the IVF
    * tombstone leg ([[graft.operators.SimilarityOps.ivfDeleteBatch]]):
    * the ids land under `_tombstones/` (underscore-prefixed — every
    * bands scan skips it), probes subtract the log with an anti join,
    * and [[compactLshIndex]] later removes the band rows physically.
    * The band COUNTS are advanced eagerly by a negative per-band
    * delta merge (the [[foldBatchIntoLshIndex]] machinery run in
    * reverse, same rename publish), because the mega-bucket cap must
    * see the LIVE population immediately — a bucket the deletes
    * vacated below the cap is searchable again on the very next
    * probe. Deltas come from the STORED band rows of the deleted ids
    * (a semi join — the deleted documents' text is never re-shingled,
    * and ids absent from the index are no-ops). A delete batch must
    * not repeat already-tombstoned ids (the counts would
    * double-decrement) — the same once-only contract as the fold.
    */
  def deleteFromLshIndex(deletes: DataFrame, indexDir: String): Unit = {
    val spark = deletes.sparkSession
    val ids = Checkpoints.truncate(deletes.select(col("doc_id")).distinct())
    ids.write.mode("append").parquet(s"$indexDir/_tombstones")
    val delBands = spark.read.parquet(s"$indexDir/bands")
      .join(ids, Seq("doc_id"), "left_semi")
      .groupBy("band").agg(count(lit(1)).as("delta_n"))
    publishTable(
      spark.read.parquet(s"$indexDir/band_counts")
        .join(delBands, Seq("band"), "full_outer")
        .select(col("band"),
          (coalesce(col("corpus_n"), lit(0L)) -
            coalesce(col("delta_n"), lit(0L))).as("corpus_n"))
        .where(col("corpus_n") > 0),
      indexDir, "band_counts")
  }

  /** Compact a tombstoned band index: rewrite `bands/` minus the
    * logged ids (rename-published) and truncate the log. Counts were
    * already advanced at delete time, so they pass through untouched.
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String): Unit = {
    val tomb = new java.io.File(indexDir, "_tombstones")
    if (tomb.exists()) {
      publishTable(
        spark.read.parquet(s"$indexDir/bands")
          .join(broadcast(spark.read.parquet(tomb.getPath)),
            Seq("doc_id"), "left_anti"),
        indexDir, "bands")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(tomb)
    }
  }

  // the gated delete query's deterministic take-down slice, shared
  // with the generated oracle: corpus docs with doc_id % 10 == 6
  // (an even residue — the slice lives inside the even-id corpus)
  val LshDeleteMod = 10
  val LshDeleteRes = 6

  /** Write-once TOMBSTONED band index: the even-id corpus indexed,
    * then the take-down slice deleted through [[deleteFromLshIndex]].
    * `_DELETED` marks the two-step build complete.
    */
  def lshDeleteIndexDir(docs: DataFrame, sfDir: String): String =
    graft.sources.Fixtures.ensure("lshdelidx", sfDir,
      Seq(s"$sfDir/documents.parquet"), params = "h2",
      validate = d => new java.io.File(d, "_DELETED").exists()) { dir =>
      writeLshIndex(docs.where(pmod(col("doc_id"), lit(2)) === 0), dir)
      deleteFromLshIndex(
        docs.where(pmod(col("doc_id"), lit(LshDeleteMod)) === LshDeleteRes)
          .select("doc_id"), dir)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_DELETED"))
      java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
      ()
    }

  /** The incremental near-dedup probe AFTER a take-down: the arriving
    * (odd-id) batch probes the tombstoned index — deleted corpus
    * documents can no longer pair with anything, while the live
    * corpus pairs exactly as before. Equals the full rebuild over the
    * live universe restricted to batch-endpoint pairs (the oracle's
    * claim — a resurrected deleted doc or a lost live one reds it).
    */
  def nearDedupAfterDelete(docs: DataFrame, sfDir: String,
                           threshold: Double = 0.8,
                           maxBucket: Int = 1000): DataFrame = {
    val live = docs.where(pmod(col("doc_id"), lit(2)) === 0 &&
      pmod(col("doc_id"), lit(LshDeleteMod)) =!= LshDeleteRes)
    nearDedupProbe(docs.where(pmod(col("doc_id"), lit(2)) === 1),
      live, lshDeleteIndexDir(docs, sfDir), threshold, maxBucket,
      includeBatchSelfPairs = true)
  }

  /** Near-dup pairs of an arriving batch (odd doc_ids) against
    * corpus+batch via the PERSISTED LSH band index — the steady-state
    * form of [[nearDupMinhash]], the way [[incrementalDedup]] is the
    * steady-state form of [[exactDedup]]. Per batch the engine pays:
    * banding the batch (row-local), one equijoin of the batch's bands
    * against the stored index restricted to bands the batch actually
    * occupies (a point probe — at scale the index is bucketed by
    * band, so this is co-located), the batch's own tiny band
    * self-join, and exact-Jaccard verification of the candidates.
    * The corpus is never re-banded and never self-joined.
    *
    * The mega-bucket cap is enforced on the combined bucket size
    * (stored `corpus_n` + the batch's own count), which is exactly
    * the population [[nearDupMinhash]]'s count-window sees on a full
    * rebuild — so the output equals the full-rebuild pair set
    * restricted to pairs with at least one batch endpoint, cap
    * included (DedupSpec proves that equality at several caps; the
    * DuckDB oracle recomputes exact Jaccard from scratch).
    */
  def incrementalNearDedup(docs: DataFrame, sfDir: String,
                           threshold: Double = 0.8,
                           maxBucket: Int = 1000): DataFrame =
    nearDedupBatch(docs.where(pmod(col("doc_id"), lit(2)) === 1),
      docs, sfDir, threshold, maxBucket)

  /** The user-facing batch form of [[incrementalNearDedup]]:
    * `arriving` is ANY frame of (doc_id, text) rows — a day's crawl,
    * a backfill slice, one micro-batch — probed against `docs`'s
    * persisted band index; the odd/even doc_id convention of the
    * gated fixture queries is just one instantiation. The registry
    * gates a SECOND, different split (`doc_id % 4 == 1`) through this
    * same entry point, so batch-agnosticism is hash-proven, not
    * asserted. Arriving doc_ids must be disjoint from the ingested
    * corpus (an id probing itself would pair with itself).
    */
  def nearDedupBatch(arriving: DataFrame, docs: DataFrame, sfDir: String,
                     threshold: Double = 0.8,
                     maxBucket: Int = 1000): DataFrame =
    incrementalNearDedupFrom(arriving, docs, sfDir, threshold, maxBucket,
      includeBatchSelfPairs = true)

  /** The index-probe engine behind [[incrementalNearDedup]] and the
    * streaming ingest front door
    * ([[graft.streaming.EventStreams]]): `arriving` is any frame of
    * (doc_id, text) rows — a parity-split batch or one micro-batch —
    * probed against `docs`'s persisted band index. With
    * `includeBatchSelfPairs` the arriving frame is also self-joined
    * within kept bands (the batch-batch pair class); a streaming
    * caller leaves it on per micro-batch (within-batch pairs) while
    * cross-batch arriving-arriving pairs are the index's job once
    * the earlier batch is folded in.
    */
  private[graft] def incrementalNearDedupFrom(arriving: DataFrame,
                                              docs: DataFrame, sfDir: String,
                                              threshold: Double,
                                              maxBucket: Int,
                                              includeBatchSelfPairs: Boolean): DataFrame =
    nearDedupProbe(arriving,
      docs.where(pmod(col("doc_id"), lit(2)) === 0),
      lshIndexDir(docs, sfDir), threshold, maxBucket,
      includeBatchSelfPairs)

  /** [[incrementalNearDedupFrom]] against an EXPLICIT index location
    * and corpus frame — the probe half of the user-managed index
    * lifecycle ([[writeLshIndex]] build → probe →
    * [[foldBatchIntoLshIndex]] maintenance). `corpus` must be the
    * docs the index at `idx` was built/folded from (it feeds only the
    * exact-verify tail, endpoint-pruned before shingling).
    */
  def nearDedupProbe(arriving: DataFrame,
                     corpus: DataFrame, idx: String,
                     threshold: Double,
                     maxBucket: Int,
                     includeBatchSelfPairs: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    // the arriving frame's shingles feed banding AND the verify tail;
    // its band table feeds the count aggregate AND both candidate
    // joins — materialize each once (subtree-duplication discipline:
    // the minhash signature is the expensive projection, and left
    // lazy it re-runs per consumer, 4x over the arriving frame)
    val dsArriving = Checkpoints.truncate(docShingles(arriving))
    val batchBands = Checkpoints.truncate(bandsOf(dsArriving))
    val batchCounts = batchBands.groupBy("band")
      .agg(count(lit(1)).as("batch_n"))
    // combined-population cap: bands the batch never touches generate
    // no new pairs, so only batch-occupied bands need the check
    val corpusCounts = spark.read.parquet(s"$idx/band_counts")
    val keptBands = batchCounts
      .join(corpusCounts, Seq("band"), "left")
      .where(coalesce(col("corpus_n"), lit(0L)) + col("batch_n") <= maxBucket)
      .select("band")
    val batchBounded = batchBands.join(keptBands, Seq("band"), "left_semi")
    // index probe: stored corpus rows in exactly the bands the batch
    // occupies (left_semi prunes before the pair fan-out); a
    // tombstone log, if one exists, is subtracted here — deleted
    // documents must not pair (deleteFromLshIndex already advanced
    // the counts, so the cap math above saw the live population)
    val storedBands = {
      val raw = spark.read.parquet(s"$idx/bands")
      val tomb = new java.io.File(idx, "_tombstones")
      if (tomb.exists())
        raw.join(broadcast(spark.read.parquet(tomb.getPath)),
          Seq("doc_id"), "left_anti")
      else raw
    }
    val corpusBounded = storedBands
      .join(keptBands, Seq("band"), "left_semi")
    val candBC = batchBounded.as("a").join(corpusBounded.as("b"),
        col("a.band") === col("b.band"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      .distinct()
    // the two branches are disjoint pair classes (arriving-corpus vs
    // arriving-arriving endpoints), so the per-branch distincts
    // suffice — no cross-branch dedup needed
    val cand = if (includeBatchSelfPairs) {
      val candBB = batchBounded.as("a").join(batchBounded.as("b"),
          col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      candBC.unionByName(candBB)
    } else candBC
    // exact verification — the shared tail; shingle sources: the
    // arriving frame (already materialized) plus the corpus half
    // (even ids), so a pair endpoint resolves whichever side it came
    // from. The endpoint semi-join inside verifyCandidates pushes
    // into BOTH union arms, so corpus docs are only ever shingled if
    // they are a candidate endpoint.
    val vs = dsArriving.unionByName(docShingles(corpus))
    verifyCandidates(cand, vs, threshold)
  }

  /** Steady-state transitive dedup: the closure of the FULL corpus
    * computed incrementally from the persisted index — new edges from
    * the arriving batch (the [[incrementalNearDedup]] LSH-index
    * probe; the exact shingle-inverted form [[incrementalEdges]] is
    * the oracle of record, and ComponentsSpec proves the two emit the
    * same edge set), persisted converged labels for the
    * already-ingested corpus, and label propagation re-run ONLY over
    * components a new edge touches. Untouched corpus components pass
    * through as stored labels (their minima cannot change: min-label
    * fixpoints are per-component, and no new edge reaches them), so
    * per-batch convergence cost scales with the affected subgraph,
    * not the corpus — the [[incrementalDedup]] digest-index pattern
    * applied to the closure, the 100 TB fix for the
    * re-derive-per-query cost the round-9 plan audit flagged. The
    * same persisted LSH index serves near-dedup and closure
    * maintenance: one index, both steady-state paths. The oracle
    * recomputes the whole closure from scratch (recursive CTE over
    * the full pair set), so a hash match proves batch-incremental ==
    * full rebuild; the spec proves the same against
    * [[dupComponents]] in-engine.
    */
  def incrementalComponents(docs: DataFrame, sfDir: String): DataFrame = {
    val spark = docs.sparkSession
    val idx = componentsIndexDir(docs, sfDir)
    val oldLabels = spark.read.parquet(s"$idx/corpus_labels")
    val oldEdges = spark.read.parquet(s"$idx/edges")
      .where(col("a_id") % 2 === 0 && col("b_id") % 2 === 0)
      .select("a_id", "b_id")
    // eager materialization: the index-probe subtree is referenced by
    // THREE consumers (touched, the closure re-run's edge union, and
    // the untouched anti-join's lineage) — without it the probe
    // re-runs per consumer, tripling the per-batch cost. r21: scratch
    // parquet so the batch-sized edge set carries its REAL size and
    // the touched/affected joins against the parquet-backed stored
    // labels broadcast the small side instead of sort-merging.
    val newEdges = Checkpoints.scratchParquet(
      incrementalNearDedup(docs, sfDir).select("a_id", "b_id"),
      "cc_new_edges", files = 1)
    // components the batch touches: endpoints of new edges -> their
    // stored component labels (an endpoint absent from the stored
    // labels is a new node; it only lives in the re-run subgraph)
    val touched = newEdges
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    val affectedComps = oldLabels.join(touched, "doc_id")
      .select("component").distinct()
    // all members + all edges of affected components (edges never
    // cross components, so membership of one endpoint suffices)
    val affectedNodes = oldLabels.join(affectedComps, "component")
      .select("doc_id")
    val affectedOldEdges = oldEdges
      .join(affectedNodes.withColumnRenamed("doc_id", "a_id"), "a_id")
    val rerun = connectedComponents(newEdges.unionByName(affectedOldEdges))
    val untouched = oldLabels.join(affectedComps, Seq("component"), "left_anti")
    untouched.select("doc_id", "component")
      .unionByName(rerun.select("doc_id", "component"))
      .orderBy("doc_id")
  }
}
